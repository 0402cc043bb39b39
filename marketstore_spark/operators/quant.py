"""Quant idioms over tick streams: TWAP, correlation, and the
indicator/microstructure families.

All of it is marketstore use-case surface: the reference serves OHLCV
and tick queries over TimeBucketKey series (uda/, catalog/,
contrib/candler — the candle aggregates here replicate the candler's
bucketing, see contrib/candler/candler.go and utils/functions) that
clients then post-process with exactly these published indicators and
estimators; every operator in this module moves that standard
client-side post-processing INTO the engine as a declarative plan.

Determinism policy (the repo-wide oracle-parity rule): no
order-dependent double summation.  Every aggregate here sums exact
DECIMALs or integer microseconds; doubles appear only in the final
scalar expression per output row, which both engines evaluate
identically (IEEE sqrt is correctly rounded, unlike exp/ln/pow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marketstore_spark.functions.timeutil import epoch_us, ord_key_ts


def _dec(c: str, scale: int = 2) -> Column:
    return F.col(c).cast(f"decimal(18,{scale})")


def twap(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average price per (symbol, bucket).

    Each tick is weighted by the integer MICROSECONDS until the next
    tick of the same symbol in the same bucket; the bucket's last tick
    carries to the bucket end (the standard TWAP convention — a price
    is in force until superseded).  Duplicate timestamps get zero
    weight except the last by ``tiebreak_col``, so the result is
    deterministic on any row order.  weight × DECIMAL price sums
    exactly; the single division to double happens per output row.

    Shape: one window (partition symbol+bucket, sort ts) + one groupBy
    on the same key — the sort-window exchange is reused by the
    aggregation, so the operator costs ONE shuffle.
    """
    w = F.window(ts_col, timeframe)
    ticks = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        _dec(value_col).alias("__px"),
        w.alias("__w"),
    )
    nxt = F.lead(epoch_us(F.col("__ts"))).over(
        Window.partitionBy("symbol", "__w").orderBy("__ts", "__tb")
    )
    weighted = ticks.withColumn(
        "__dt",
        F.coalesce(nxt, epoch_us(F.col("__w.end"))) - epoch_us(F.col("__ts")),
    )
    return (
        weighted.groupBy("symbol", "__w")
        .agg(
            F.sum(F.col("__px") * F.col("__dt")).alias("__pv"),
            F.sum("__dt").alias("__tt"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "symbol",
            F.col("__w.start").alias("epoch"),
            F.round(
                F.col("__pv").cast("double")
                / F.when(F.col("__tt") == 0, F.lit(None)).otherwise(F.col("__tt")),
                6,
            ).alias("twap"),
            "n_ticks",
        )
    )


def pairwise_corr(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    min_obs: int = 3,
    block_symbols: int = 512,
    max_buckets: int = 50_000,
) -> DataFrame:
    """Pearson correlation of per-bucket CLOSES for every symbol pair,
    computed as blocked masked-gram matrices — the only formulation
    that survives large symbol counts.

    A pair-join formulation shuffles |pairs|·|buckets| rows (26.8M at
    sf0.1 with 1.5k symbols; 10¹³ at 100k symbols) — dead on arrival
    at scale.  Instead, symbols are hash-assigned to blocks of
    ``block_symbols``; every block pair (ga ≤ gb) is one applyInPandas
    task (the operators/dedup block-pair pattern) that scatters its two
    blocks into dense day-indexed matrices and computes FOUR numpy
    grams — N = I·Iᵀ (shared-day counts), SX = X·Iᵀ / SY = I·Xᵀ
    (per-pair masked sums), SXY = X·Xᵀ, SXX = X²·Iᵀ / SYY = I·X²ᵀ —
    which yield all five Pearson sums restricted to each pair's SHARED
    days.  Work and memory per task are bounded by block²·days.

    Exactness (the oracle-parity contract): closes enter as integer
    CENTS (value quantized to DECIMAL(8,2)·100), so every gram entry is
    a sum of integer-valued float64 products — exact while
    cents²·n_buckets < 2⁵³ (|value| < ~$3·10⁴ over a 1000-bucket range;
    widen to a two-pass normalized formulation beyond that).  The final
    Pearson expression runs per pair in float64 — identical IEEE ops to
    the DuckDB oracle's — and Spark applies the 6dp round, so results
    hash-match the SQL pair-join oracle bit for bit.

    Driver-side footprint: the sorted bucket list and the symbol count
    (both dimension-sized, like the IVF centroid sample) — never tick
    data.
    """
    import math

    import numpy as np
    import pandas as pd

    w = F.window(ts_col, timeframe)
    base = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        (F.col(value_col).cast("decimal(8,2)") * 100).cast("long").alias("cents"),
        w["start"].alias("bucket"),
    )
    # map-side-combinable close pick (the _bucket_closes re-plan): the
    # exchange carries partial candles, not every tick
    closes = base.groupBy("symbol", "bucket").agg(
        F.max_by("cents", F.expr(ord_key_ts("__ts", "__tb"))).alias("cents")
    )

    spark = df.sparkSession
    # The bucket list is collected to the driver and every task holds
    # dense block×n_buckets matrices — sound for the daily/hourly
    # buckets this operator is designed around (10³-10⁴ doubles wide),
    # quadratic-memory-wrong for tick-grained timeframes.  Guard it
    # the way embedding dedup guards its exact path: the probe reads
    # at most max_buckets+1 bucket rows, so a runaway timeframe fails
    # fast without materializing millions of rows on the driver.
    #
    # r14 (VERDICT #8, plan-build budget): the bucket probe and the
    # symbol count were two SEQUENTIAL driver jobs, each paying its
    # own scheduling round-trip; they now ride ONE union action (the
    # scheduler overlaps the branches, guide §2.6), and both probe the
    # raw tick projection with plain distincts instead of re-running
    # the max_by close pick — distinct buckets/symbols of the ticks
    # are the same sets, and the driver still receives at most
    # max_buckets+2 rows.
    days_branch = (
        base.select("bucket")
        .distinct()
        .orderBy("bucket")
        .limit(max_buckets + 1)
        .select(F.col("bucket"), F.lit(None).cast("long").alias("n"))
    )
    nsym_branch = (
        base.select("symbol")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(None).cast(base.schema["bucket"].dataType).alias("bucket"), "n")
    )
    probe_rows = days_branch.unionByName(nsym_branch).collect()
    days = sorted(r["bucket"] for r in probe_rows if r["bucket"] is not None)
    n_sym = next(r["n"] for r in probe_rows if r["n"] is not None)
    if len(days) > max_buckets:
        raise ValueError(
            f"pairwise_corr: more than {max_buckets} {timeframe!r} buckets; "
            "this operator holds a dense per-bucket matrix per task — use a "
            "coarser timeframe (daily/hourly) or raise max_buckets explicitly"
        )
    n_days = len(days)
    if n_days == 0:
        return spark.createDataFrame(
            [], "sym_a long, sym_b long, n_obs long, corr double"
        )
    day_idx = spark.createDataFrame(
        [(d, i) for i, d in enumerate(days)], ["bucket", "didx"]
    )
    # Block count balances two bounds (results are identical under any
    # blocking — each unordered pair lands in exactly one group):
    #  - memory: blocks no wider than ``block_symbols`` (task footprint
    #    is block²·days doubles);
    #  - parallelism: ~4·cores block-pair tasks, i.e. nblk ≈ √(8·par) —
    #    at sf0.1 the memory bound alone gave 3 blocks = 6 tasks on 32
    #    cores (measured 20% slower than the parallel split), while at
    #    100k symbols the memory bound dominates and caps task width.
    par = spark.sparkContext.defaultParallelism
    nblk_mem = math.ceil(n_sym / block_symbols)
    nblk_par = math.ceil(math.sqrt(8 * par))
    nblk = max(1, min(n_sym, max(nblk_mem, nblk_par)))

    # Pack each symbol's close series into ONE (didxs, centss) array row
    # BEFORE the block replication (§2.3 shuffle fewer bytes / §8 move
    # heavy rows once): the block-pair exchange and the Arrow hop then
    # carry n_sym·nblk packed rows instead of n_closes·nblk scalar rows
    # (sf0.1: 24k vs 8.8M — the per-row shuffle/Arrow overhead was the
    # dominant cost).  The symbol-keyed pack aggregate is candle-scale
    # and combines map-side.  collect_list order is nondeterministic,
    # but the task scatters by didx into the same dense matrix, so the
    # grams — and every downstream value — are bit-identical.
    packed = (
        closes.join(F.broadcast(day_idx), "bucket")
        .groupBy("symbol")
        .agg(F.collect_list(F.struct("didx", "cents")).alias("__dc"))
        .select(
            "symbol",
            F.col("__dc.didx").alias("didxs"),
            F.col("__dc.cents").alias("centss"),
        )
    )
    ex = (
        packed.withColumn(
            "blk", F.pmod(F.xxhash64("symbol"), F.lit(nblk)).cast("int")
        )
        .select(
            "symbol", "didxs", "centss", "blk",
            F.explode(F.sequence(F.lit(0), F.lit(nblk - 1))).alias("other"),
        )
        .withColumn("ga", F.least("blk", "other"))
        .withColumn("gb", F.greatest("blk", "other"))
    )

    def _grams(sub):
        order = np.argsort(sub["symbol"].to_numpy(), kind="stable")
        syms = sub["symbol"].to_numpy()[order]
        X = np.zeros((len(syms), n_days))
        I = np.zeros((len(syms), n_days))
        didxs = sub["didxs"].to_numpy()
        centss = sub["centss"].to_numpy()
        for i, j in enumerate(order):
            cols = np.asarray(didxs[j], dtype=np.int64)
            X[i, cols] = np.asarray(centss[j], dtype=np.float64)
            I[i, cols] = 1.0
        return syms, X, I

    def _pairs(key, pdf):
        ga, gb = int(key[0]), int(key[1])
        pa = pdf[pdf["blk"] == ga]
        pb = pdf[pdf["blk"] == gb] if gb != ga else pa
        if len(pa) == 0 or len(pb) == 0:
            return pd.DataFrame(
                {"sym_a": pd.Series([], dtype="int64"),
                 "sym_b": pd.Series([], dtype="int64"),
                 "n_obs": pd.Series([], dtype="int64"),
                 "corr": pd.Series([], dtype="float64")}
            )
        sa, Xa, Ia = _grams(pa)
        sb, Xb, Ib = (sa, Xa, Ia) if gb == ga else _grams(pb)
        n = Ia @ Ib.T
        sx = Xa @ Ib.T
        sy = Ia @ Xb.T
        sxy = Xa @ Xb.T
        sxx = (Xa * Xa) @ Ib.T
        syy = Ia @ (Xb * Xb).T
        varx = n * sxx - sx * sx
        vary = n * syy - sy * sy
        with np.errstate(invalid="ignore", divide="ignore"):
            corr = (n * sxy - sx * sy) / (np.sqrt(varx) * np.sqrt(vary))
        keep = (n >= min_obs) & (varx > 0) & (vary > 0)
        # each unordered pair lives in exactly one (ga, gb) group; within
        # a group, orient by symbol value (and for ga == gb keep i < j)
        if gb == ga:
            keep &= sa[:, None] < sb[None, :]
        ri, ci = np.nonzero(keep)
        a_vals, b_vals = sa[ri], sb[ci]
        swap = a_vals > b_vals
        a_out = np.where(swap, b_vals, a_vals)
        b_out = np.where(swap, a_vals, b_vals)
        return pd.DataFrame(
            {
                "sym_a": pd.Series(a_out, dtype="int64"),
                "sym_b": pd.Series(b_out, dtype="int64"),
                "n_obs": pd.Series(n[ri, ci], dtype="int64"),
                "corr": pd.Series(corr[ri, ci], dtype="float64"),
            }
        )

    out = ex.groupBy("ga", "gb").applyInPandas(
        _pairs, "sym_a long, sym_b long, n_obs long, corr double"
    )
    return out.select("sym_a", "sym_b", "n_obs", F.round("corr", 6).alias("corr"))


def obv(
    df: DataFrame,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """On-balance volume per tick: the running sum of volume signed by
    the tick-to-tick price direction (up ticks add, down ticks
    subtract, flat ticks and the first tick contribute zero) — the
    classic accumulation/distribution indicator every OHLCV consumer
    of the reference computes client-side (models/bar.go serves the
    inputs; this moves the recurrence into the engine).

    Unlike EMA, the OBV "recurrence" is a plain prefix sum, so it
    needs no applyInPandas: one lag + one running-sum window over the
    same (symbol, ts) ordering — Spark plans a single sort per
    symbol partition and both windows share it.  All arithmetic is
    BIGINT (direction in {-1,0,1} × integer volume), so the running
    sum is order-exact and hash-matches any engine.
    """
    w = Window.partitionBy(symbol_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(F.col(value_col)).over(w)
    delta = (
        F.when(prev.isNull(), F.lit(0).cast("long"))
        .when(F.col(value_col) > prev, F.col(volume_col).cast("long"))
        .when(F.col(value_col) < prev, -F.col(volume_col).cast("long"))
        .otherwise(F.lit(0).cast("long"))
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("epoch"),
        F.col(tiebreak_col).alias("event_id"),
        F.sum(delta).over(run).alias("obv"),
    )


def stochastic_k(
    df: DataFrame,
    n: int = 14,
    d_periods: int = 3,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Stochastic oscillator %K / %D over the last ``n`` ticks per
    symbol: %K = 100·(close − min_n) / (max_n − min_n), %D = the
    ``d_periods``-tick simple average of %K.

    NULL during the warm-up (fewer than ``n`` ticks seen) and when the
    window is flat (max == min) — both standard conventions.  min/max
    are exact picks and the %K expression is a fixed-order chain of
    IEEE ops (sub, mul, div), so results are bit-identical across
    engines with no rounding emulation; %D averages exactly
    ``d_periods`` values via explicit lags (a windowed SUM of doubles
    would leave the accumulation order to the engine).

    One sort per symbol partition shared by every window here — the
    rolling frame, the row counter, and the %D lags all use the same
    (symbol, ts, tiebreak) ordering.
    """
    w = Window.partitionBy(symbol_col).orderBy(ts_col, tiebreak_col)
    frame = w.rowsBetween(-(n - 1), Window.currentRow)
    v = F.col(value_col)
    lo = F.min(v).over(frame)
    hi = F.max(v).over(frame)
    rn = F.row_number().over(w)
    k = F.when(
        (rn >= n) & (hi > lo), (F.lit(100.0) * (v - lo)) / (hi - lo)
    )
    # %K materializes under the ORIGINAL column names, and the %D lags
    # run over the same (symbol, ts, tiebreak) window — renaming first
    # would break Catalyst's partitioning/ordering reuse and buy a
    # second exchange + sort (plan-tested: one of each).
    staged = df.select(
        F.col(symbol_col), F.col(ts_col), F.col(tiebreak_col), k.alias("pct_k")
    )
    acc = F.col("pct_k")
    for i in range(1, d_periods):
        acc = acc + F.lag(F.col("pct_k"), i).over(w)
    return staged.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("epoch"),
        F.col(tiebreak_col).alias("event_id"),
        "pct_k",
        (acc / F.lit(float(d_periods))).alias("pct_d"),
    )


def beta_vs_market(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    min_obs: int = 3,
) -> DataFrame:
    """Per-symbol beta of bucket-over-bucket price moves against the
    AGGREGATE market move (the sum of all symbols' moves that bucket).

    Regressing against the sum — not the mean — keeps every Pearson
    sum an exact integer: moves are integer cents (close diffs of the
    last tick per bucket), the market move is their per-bucket integer
    sum, and the five regression sums per symbol are integer-valued
    float64s (exact while cents²·buckets < 2⁵³ — the pairwise_corr
    bound).  Versus a mean-based beta the slope simply scales by the
    symbol count, so the ranking and sign are identical; the
    definition is stated in the output contract.

    Shape (all small after the first agg): one shuffle for the bucket
    closes (window last-tick per symbol·bucket), one lag window per
    symbol for moves, one tiny per-bucket aggregate for the market
    move — broadcast back onto the moves — then one per-symbol
    aggregate.  Nothing here is quadratic in symbols (contrast
    pairwise_corr); 100k symbols is just a bigger groupBy.

    beta = (n·Σxy − Σx·Σy) / (n·Σxx − Σx·Σx) with x = market move,
    y = symbol move, over buckets where the symbol HAS a move; NULL
    variance → row dropped.  The final expression is the fixed-order
    IEEE chain both engines evaluate identically; 6-dp round applied
    Spark-side (oracle emulates Spark's rounding).
    """
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    prev = F.lag("close_c").over(Window.partitionBy("symbol").orderBy("bucket"))
    moves = closes.select(
        "symbol", "bucket", (F.col("close_c") - prev).alias("mv")
    ).filter(F.col("mv").isNotNull())
    market = moves.groupBy("bucket").agg(F.sum("mv").alias("mkt"))
    joined = moves.join(F.broadcast(market), "bucket")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("mkt").cast("double")
    sy = F.sum("mv").cast("double")
    sxy = F.sum(F.col("mkt") * F.col("mv")).cast("double")
    sxx = F.sum(F.col("mkt") * F.col("mkt")).cast("double")
    agg = joined.groupBy("symbol").agg(
        n.alias("n"), sx.alias("sx"), sy.alias("sy"),
        sxy.alias("sxy"), sxx.alias("sxx"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / varx
    return (
        agg.filter((F.col("n") >= min_obs) & (varx > 0))
        .select(
            "symbol",
            F.col("n").cast("long").alias("n_obs"),
            F.round(beta, 6).alias("beta"),
        )
    )


def realized_vol(
    df: DataFrame,
    window_buckets: int = 20,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Rolling realized volatility per symbol: the sample standard
    deviation of the last ``window_buckets`` bucket-over-bucket price
    moves (integer cents), reported per bucket.

    Exactness: Σx and Σx² over the rolling frame are window sums of
    LONGs — exact integers — and the variance expression
    ``(n·Σx² − Σx·Σx) / (n·(n−1))`` feeds one correctly-rounded IEEE
    sqrt, so both engines agree bitwise (the bollinger E[x²]−E[x]²
    policy applied to moves instead of levels).  NULL during warm-up
    (fewer than ``window_buckets`` moves) and for n < 2.

    Shape: the bucket-close extraction shuffles once on
    (symbol, bucket); the lag and the two rolling sums share the
    per-symbol sort.  Linear in symbols and buckets.
    """
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    moves = closes.select(
        "symbol", "bucket",
        (F.col("close_c") - F.lag("close_c").over(ws)).alias("mv"),
    ).filter(F.col("mv").isNotNull())
    frame = ws.rowsBetween(-(window_buckets - 1), Window.currentRow)
    n = F.count(F.lit(1)).over(frame).cast("double")
    sx = F.sum("mv").over(frame).cast("double")
    sxx = F.sum(F.col("mv") * F.col("mv")).over(frame).cast("double")
    rown = F.row_number().over(ws)
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
    vol = F.when(rown >= window_buckets, F.sqrt(var))
    return moves.select(
        "symbol", F.col("bucket").alias("epoch"), "mv",
        F.round(vol, 6).alias("realized_vol"),
    )


def _cent_ticks(
    df: DataFrame,
    timeframe: str,
    symbol_col: str,
    ts_col: str,
    value_col: str | None,
    tiebreak_col: str | None,
    extras: Sequence[Column] = (),
) -> DataFrame:
    """Shared tick normalization for the candle-fed operators (atr /
    donchian / nbbo / _bucket_closes): integer-cent price, bucket
    start, and the (ts, tiebreak) order key under canonical names —
    the cent-cast policy lives HERE, once.  ``extras`` are additional
    projections to carry through (e.g. nbbo's venue).  Pass
    ``value_col=None`` / ``tiebreak_col=None`` to OMIT px_c / __tb:
    column pruning cannot save a caller whose frame lacks the column —
    analysis resolves every selected column before the optimizer runs
    (donchian needs no tiebreak; a pre-sided nbbo frame needs no
    price).  Output: symbol, bucket, __ts[, __tb][, px_c], *extras."""
    w = F.window(ts_col, timeframe)
    cols = [
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
    ]
    if tiebreak_col is not None:
        cols.append(F.col(tiebreak_col).alias("__tb"))
    if value_col is not None:
        cents = (F.col(value_col).cast("decimal(8,2)") * 100).cast("long")
        cols.append(cents.alias("px_c"))
    cols.append(w["start"].alias("bucket"))
    return df.select(*cols, *extras)


def _bucket_closes(
    df: DataFrame,
    timeframe: str,
    symbol_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Last-tick integer-cent close per (symbol, bucket) — the shared
    front half of beta_vs_market / realized_vol / xs_momentum /
    rolling_corr / the serial-dependence family: ONE shuffle on
    (symbol, bucket), deterministic last pick by (ts, tiebreak).

    The pick is a ``max_by`` AGGREGATE, not a row_number window: the
    aggregate combines map-side, so the exchange carries one partial
    candle per (symbol, bucket) per map partition — bar-scale — where
    the window formulation shuffled EVERY tick and sorted each
    partition (round 8 re-plan; at 100 TB the shuffle-bytes ratio is
    ticks-per-bar, often 10³–10⁴×).  Same pick, same values —
    parity-neutral.  (atr/donchian extract full candles, not closes,
    so they keep their own aggregate.)"""
    ticks = _cent_ticks(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    return ticks.groupBy("symbol", "bucket").agg(
        F.max_by("px_c", F.expr(ord_key_ts("__ts", "__tb"))).alias("close_c")
    )


def atr(
    df: DataFrame,
    n: int = 14,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Average True Range (Wilder's volatility measure, SMA variant):
    per-bucket candles H/L/C in integer cents, true range
    TR = max(H−L, |H−prev_C|, |L−prev_C|) (first bucket: H−L), and
    ATR = the ``n``-bucket simple average of TR — NULL during warm-up.

    OHLC consumers of the reference compute this client-side from the
    candler output (contrib/candler serves the inputs); this moves the
    whole chain into the engine.  Exactness: candle picks are exact
    min/max/max_by on LONG cents, TR is integer, the rolling sum is an
    integer window sum, and ATR is ONE double division by ``n`` — the
    realized_vol policy, so both engines agree bitwise.

    Shape: one shuffle for the candle aggregate (map-side partials),
    then one per-symbol sort shared by the lag, the rolling sum, and
    the row counter.  Linear in symbols × buckets.
    """
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    candles = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", F.expr(ord_key_ts("__ts", "__tb"))).alias("c"),
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    prev_c = F.lag("c").over(ws)
    tr = F.when(prev_c.isNull(), F.col("h") - F.col("l")).otherwise(
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - prev_c),
            F.abs(F.col("l") - prev_c),
        )
    )
    staged = candles.select("symbol", "bucket", tr.alias("tr"))
    frame = ws.rowsBetween(-(n - 1), Window.currentRow)
    rown = F.row_number().over(ws)
    atr_c = F.when(rown >= n, F.sum("tr").over(frame).cast("double") / F.lit(float(n)))
    return staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "tr",
        F.round(atr_c, 6).alias("atr"),
    )


def donchian(
    df: DataFrame,
    n: int = 20,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Donchian channels: the rolling ``n``-bucket highest high /
    lowest low per symbol, plus the midline — the breakout bands every
    OHLCV client derives from the reference's candler output.

    Pure exact arithmetic end to end: bucket H/L are integer-cent
    min/max picks, the channel bounds are window min/max over LONGs,
    and the midline divides an integer sum by 2 (a power of two —
    exact in float64).  NULL bounds during warm-up.

    Shape: one candle shuffle, one shared per-symbol sort for both
    rolling extrema and the row counter.
    """
    # donchian needs no order key — omit __tb so frames without a
    # tiebreak column (MarketSQL buckets may lack event_id) analyze.
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, None)
    hilo = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"), F.min("px_c").alias("l")
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    frame = ws.rowsBetween(-(n - 1), Window.currentRow)
    rown = F.row_number().over(ws)
    upper = F.when(rown >= n, F.max("h").over(frame))
    lower = F.when(rown >= n, F.min("l").over(frame))
    return hilo.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        upper.alias("upper_c"),
        lower.alias("lower_c"),
        ((upper + lower).cast("double") / F.lit(2.0)).alias("mid_c"),
    )


def xs_momentum(
    df: DataFrame,
    lookback: int = 5,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Cross-sectional momentum rank: each symbol's ``lookback``-bucket
    price move, ranked across ALL symbols within each bucket (rank 1 =
    strongest move) — the factor-model building block computed
    client-side from reference candle queries.

    The move is an integer-cent difference (exact), the return is ONE
    double division (move / base close), and the rank is an integer
    window function ordered by return DESC alone — ties share a rank
    (rank() depends only on the key values), so the output is
    deterministic without a tie-break column.  Warm-up rows (no
    ``lookback``-back close) are dropped.

    Shape: bucket-close extraction shuffles once on (symbol, bucket);
    the lag shares the per-symbol sort; the cross-sectional rank is
    one more shuffle on bucket — unavoidable for a cross-sectional
    operator and linear in rows.  Nothing is quadratic in symbols.
    """
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    base = F.lag("close_c", lookback).over(ws)
    staged = (
        closes.select(
            "symbol",
            "bucket",
            (F.col("close_c") - base).alias("mom_c"),
            base.alias("base_c"),
        )
        .filter(F.col("mom_c").isNotNull() & (F.col("base_c") != 0))
    )
    ret = F.col("mom_c").cast("double") / F.col("base_c")
    wr = Window.partitionBy("bucket").orderBy(ret.desc())
    return staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "mom_c",
        F.round(ret, 6).alias("ret"),
        F.rank().over(wr).cast("long").alias("xs_rank"),
    )


def tick_rule(
    df: DataFrame,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Lee-Ready tick-test trade signing + cumulative net order flow.

    A trade is a buy (+1) on an uptick, a sell (-1) on a downtick, and
    inherits the LAST resolved direction on a zero tick (the tick
    test's carry rule); the leading run before any price move is 0.
    ``signed_vol`` = side x volume, ``cum_flow`` = the per-symbol
    running sum — the standard microstructure order-flow series the
    reference's Trade consumers (models/trade.go) compute client-side.

    Plan: one sort per symbol partition shared by all four windows
    (lag, carry, running sum) — Spark plans a single Exchange + Sort.
    Carry-forward is ``last(dir, ignorenulls)`` over unbounded
    preceding, the same idiom as gapfill's ffill.  All arithmetic is
    BIGINT, so every output is order-exact across engines.
    """
    # All three window passes run over the ORIGINAL column names —
    # renaming between passes would break Catalyst's ordering reuse
    # and buy a second exchange + sort (same lesson as stochastic_k).
    w = Window.partitionBy(symbol_col).orderBy(ts_col, tiebreak_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(F.col(value_col)).over(w)
    direction = (
        F.when(F.col(value_col) > prev, F.lit(1))
        .when(F.col(value_col) < prev, F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    staged = df.select(
        F.col(symbol_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        F.col(volume_col).cast("long").alias("__vol"),
        direction.alias("__dir"),
    )
    side = F.coalesce(F.last("__dir", ignorenulls=True).over(run), F.lit(0))
    signed = staged.select(
        F.col(symbol_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        (side.cast("long") * F.col("__vol")).alias("signed_vol"),
        side.alias("side"),
    )
    return signed.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("epoch"),
        F.col(tiebreak_col).alias("event_id"),
        "side",
        "signed_vol",
        F.sum("signed_vol").over(run).alias("cum_flow"),
    )


def nbbo(
    df: DataFrame,
    timeframe: str = "1 minute",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    venue_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """National-best-bid-offer consolidation: per (symbol, bucket),
    the best bid (max) and best ask (min) across each venue's LAST
    quote in the bucket, with venue attribution — the consolidated-
    tape reduction of the reference's Quote model (models/quote.go
    carries BidPrice/AskPrice/BidExchange/AskExchange per venue; this
    produces the NBBO series a client would assemble from it).

    Synthetic two-sided quotes are derived from the tick stream by the
    caller (deterministic integer-cent half-spreads); this operator
    takes any frame with ``bid_c`` / ``ask_c`` LONG columns already
    present, or derives them when absent from ``value_col`` +
    ``tiebreak_col`` hashes (documented in the registered query).

    Plan: two hash aggregates — (symbol, venue, bucket) last-quote
    pick via a struct max (partial-agg friendly: each map task reduces
    its slice before any shuffle), then a (symbol, bucket) rollup
    whose input is already venue-collapsed, i.e. dims x buckets
    small.  No windows, no sorts, no joins.  Ties on the best price
    across venues resolve by venue name (greatest on the bid's
    struct-max, smallest on the ask's struct-min) — deterministic on
    any row order.
    """
    has_sides = "bid_c" in df.columns and "ask_c" in df.columns
    extras = [F.col(venue_col).alias("venue")]
    if has_sides:
        extras += [F.col("bid_c"), F.col("ask_c")]
    # A pre-sided frame needs no price column at all — value_col may
    # not even exist there (the documented contract).
    ticks = _cent_ticks(
        df,
        timeframe,
        symbol_col,
        ts_col,
        None if has_sides else value_col,
        tiebreak_col,
        extras,
    )
    px = F.col("px_c")
    quotes = ticks.select(
        "symbol",
        "venue",
        "bucket",
        "__ts",
        "__tb",
        (
            F.col("bid_c")
            if has_sides
            else px - 1 - F.pmod(F.col("__tb"), F.lit(4))
        ).cast("long").alias("bid_c"),
        (
            F.col("ask_c")
            if has_sides
            else px + 1 + F.pmod(F.col("__tb"), F.lit(3))
        ).cast("long").alias("ask_c"),
    )
    # Two max_by picks on the packed (ts, tb) key instead of one
    # max(struct(ts, tb, bid, ask)): identical under the tiebreak-
    # uniqueness contract (ts+tb identify the quote row, so bid/ask
    # never participate in the ordering), and the primitive buffer
    # keeps this tick-scale aggregate a HashAggregate — the struct
    # demoted it to SortAggregate (a full sort of every quote per map
    # task; candler._ordkey rationale).  The venue-collapsed rollup
    # below keeps its struct min/max: its venue tiebreak is a string
    # (unpackable) and its input is dims × buckets, not ticks.
    ok = F.expr(ord_key_ts("__ts", "__tb"))
    last_q = quotes.groupBy("symbol", "venue", "bucket").agg(
        F.max_by("bid_c", ok).alias("bid_c"),
        F.max_by("ask_c", ok).alias("ask_c"),
    )
    # A venue whose last quote has a null side contributes NO candidate
    # on that side: the when() yields a NULL struct, which min/max skip
    # as aggregate input.  (Bare min(struct(ask, venue)) would instead
    # pick the null-ask struct as the minimum — struct ordering sorts a
    # null field first — nuking the consolidated ask.)
    best = last_q.groupBy("symbol", "bucket").agg(
        F.max(
            F.when(
                F.col("bid_c").isNotNull(),
                F.struct(F.col("bid_c"), F.col("venue")),
            )
        ).alias("__bb"),
        F.min(
            F.when(
                F.col("ask_c").isNotNull(),
                F.struct(F.col("ask_c"), F.col("venue")),
            )
        ).alias("__ba"),
    )
    return best.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        F.col("__bb.bid_c").alias("best_bid_c"),
        F.col("__ba.ask_c").alias("best_ask_c"),
        F.col("__bb.venue").alias("bid_venue"),
        F.col("__ba.venue").alias("ask_venue"),
        (F.col("__ba.ask_c") - F.col("__bb.bid_c")).alias("spread_c"),
        (
            (F.col("__bb.bid_c") + F.col("__ba.ask_c")).cast("double")
            / F.lit(2.0)
        ).alias("mid_c"),
    )


def lee_ready(
    trades: DataFrame,
    quotes: DataFrame,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    price_col: str = "px_c",
    mid2_col: str = "mid2",
) -> DataFrame:
    """Lee-Ready (1991, public algorithm) trade classification: sign
    each trade against the PREVAILING QUOTE midpoint (strictly above
    mid = buy, below = sell), falling back to the tick test (carried
    last price direction) at the midpoint or when no quote precedes
    the trade — the full algorithm whose tick-test half
    :func:`tick_rule` implements standalone.

    Inputs are integer-cent frames: ``trades(symbol, ts, tiebreak,
    px_c)`` and ``quotes(symbol, ts, mid2)`` where ``mid2`` is
    bid_c + ask_c (twice the midpoint — comparing ``2·px`` against it
    keeps every comparison in exact integers; no halves, no doubles).

    Plan: one as-of join (operators/asof — window over the union, no
    pair blow-up) attaches the latest quote at-or-before each trade,
    then the tick-test windows share one (symbol, ts, tiebreak) sort.
    All arithmetic BIGINT; deterministic on any row order.
    """
    from marketstore_spark.operators.asof import asof_join

    j = asof_join(
        trades,
        quotes,
        on=[symbol_col],
        left_ts=ts_col,
        right_ts=ts_col,
        value_cols=[mid2_col],
    )
    w = Window.partitionBy(symbol_col).orderBy(ts_col, tiebreak_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    px = F.col(price_col)
    prev = F.lag(px).over(w)
    dirn = (
        F.when(px > prev, F.lit(1))
        .when(px < prev, F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    staged = j.select(
        F.col(symbol_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        px,
        F.col(mid2_col),
        dirn.alias("__dir"),
    )
    quote_sign = (
        F.when(F.col(mid2_col).isNull(), F.lit(None).cast("int"))
        .when(px * 2 > F.col(mid2_col), F.lit(1))
        .when(px * 2 < F.col(mid2_col), F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    carry = F.last("__dir", ignorenulls=True).over(run)
    return staged.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("epoch"),
        F.col(tiebreak_col).alias("event_id"),
        price_col,
        F.col(mid2_col).alias("mid2_c"),
        F.coalesce(quote_sign, carry, F.lit(0)).cast("int").alias("side"),
    )


def amihud_illiquidity(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Amihud (2002, public measure) price-impact illiquidity per
    (symbol, bucket): |bucket return| divided by the bucket's dollar
    volume.  Emitted PER BUCKET (no cross-bucket averaging of doubles
    — a group-average of floats is summation-order-dependent across
    engines; consumers aggregate the per-bucket series however they
    like, ideally after fixed-point rounding).

    Exactness: close picks and dollar-volume sums are integer cents;
    the only float ops are the two mirrored divisions
    ``ret = (c - prev_c)/prev_c`` and ``illiq = |ret| / (dv_c/100)``.

    Shape: one (symbol, bucket) candle shuffle with map-side partials,
    one per-symbol sort for the lag.  First bucket per symbol: NULL.
    """
    ticks = _cent_ticks(
        df,
        timeframe,
        symbol_col,
        ts_col,
        value_col,
        tiebreak_col,
        extras=[F.col(volume_col).cast("long").alias("vol")],
    )
    daily = ticks.groupBy("symbol", "bucket").agg(
        F.max_by("px_c", F.expr(ord_key_ts("__ts", "__tb"))).alias("close_c"),
        F.sum(F.col("px_c") * F.col("vol")).alias("dv_c"),
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    prev_c = F.lag("close_c").over(ws)
    # a zero previous close (data allows px = 0.00) has no defined
    # return — NULL, not an ANSI DIVIDE_BY_ZERO (bug found by the
    # sf0.1 value-parity sweep; invisible at smaller scales)
    ret = (F.col("close_c") - prev_c).cast("double") / F.when(
        prev_c == 0, F.lit(None)
    ).otherwise(prev_c)
    dv_d = F.col("dv_c").cast("double") / F.lit(1e2)
    illiq = F.abs(ret) / F.when(dv_d == 0, F.lit(None)).otherwise(dv_d)
    return daily.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "close_c",
        "dv_c",
        ret.alias("ret"),
        illiq.alias("illiq"),
    )


def ichimoku(
    df: DataFrame,
    tenkan_n: int = 9,
    kijun_n: int = 26,
    senkou_n: int = 52,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Ichimoku Kinko Hyo lines per (symbol, bucket) over integer-cent
    candles: tenkan/kijun/senkou-B are rolling (high+low)/2 midpoints
    at 9/26/52 buckets, senkou-A = (tenkan+kijun)/2, chikou = the
    close LED by ``kijun_n`` buckets.  Lines are emitted AT the bucket
    that computes them (no forward/backward plot displacement — a
    chart-rendering concern, not a data one; documented here).

    Exactness: rolling extrema are LONG min/max; each midpoint is one
    double division by 2 (exact), senkou-A averages two dyadic doubles
    (mirrored literal expression).  NULL during each line's warm-up.

    Shape: one candle shuffle, ONE shared per-symbol sort driving all
    three rolling extrema windows, the row counter, and the lead.
    """
    ticks = _cent_ticks(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    hilo = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", F.expr(ord_key_ts("__ts", "__tb"))).alias("c"),
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    rown = F.row_number().over(ws)

    def mid(n: int) -> Column:
        fr = ws.rowsBetween(-(n - 1), Window.currentRow)
        return F.when(
            rown >= n,
            (F.max("h").over(fr) + F.min("l").over(fr)).cast("double")
            / F.lit(2.0),
        )

    tenkan = mid(tenkan_n)
    kijun = mid(kijun_n)
    return hilo.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        F.col("c").alias("close_c"),
        tenkan.alias("tenkan"),
        kijun.alias("kijun"),
        ((tenkan + kijun) / F.lit(2.0)).alias("senkou_a"),
        mid(senkou_n).alias("senkou_b"),
        F.lead("c", kijun_n).over(ws).alias("chikou_c"),
    )


def order_flow_imbalance(
    quotes: DataFrame,
    timeframe: str = "5 minutes",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    venue_col: str = "venue",
    bid_col: str = "bid_c",
    ask_col: str = "ask_c",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Order-flow imbalance per (symbol, bucket): the signed count of
    best-quote improvements minus deteriorations, summed across
    venues.  Per consecutive quote pair WITHIN a venue,
    ``sign(bid_t − bid_{t−1}) − sign(ask_t − ask_{t−1})`` — a rising
    bid or falling ask is buying pressure (+), the reverse selling (−)
    — the size-free price-direction form of the public OFI measure
    (Cont, Kukanov & Stoikov 2014 use depth sizes; the tick stream
    here carries none).

    All-integer arithmetic (BIGINT cent comparisons, ±1 contributions,
    LONG sums) — exact on any engine.  First quote per venue
    contributes 0.

    Shape: one per-(symbol, venue) sort for the lags, then one
    (symbol, bucket) hash aggregate with map-side partials.
    """
    w = Window.partitionBy(symbol_col, venue_col).orderBy(ts_col, tiebreak_col)
    db = F.col(bid_col) - F.lag(bid_col).over(w)
    da = F.col(ask_col) - F.lag(ask_col).over(w)
    contrib = F.coalesce(F.signum(db).cast("long"), F.lit(0)) - F.coalesce(
        F.signum(da).cast("long"), F.lit(0)
    )
    staged = quotes.select(
        F.col(symbol_col).alias("symbol"),
        F.window(ts_col, timeframe)["start"].alias("epoch"),
        contrib.alias("__ofi"),
    )
    return staged.groupBy("symbol", "epoch").agg(
        F.sum("__ofi").alias("ofi"),
        F.count(F.lit(1)).alias("n_quotes"),
    )


def cusum_filter(
    df: DataFrame,
    threshold_c: int,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Symmetric CUSUM filter over per-bucket closes (the event-
    sampling filter from the public literature — Page 1954; López de
    Prado AFML ch. 2.5.2): carry S⁺ = max(0, S⁺ + Δ) and
    S⁻ = min(0, S⁻ + Δ) over integer-cent close changes; when S⁺
    exceeds ``threshold_c`` emit a +1 event and reset S⁺ (resp. S⁻
    below −threshold → −1).  Both sides accumulate every row; a row
    can trigger at most one side (a single Δ cannot push S⁺ above +h
    and S⁻ below −h simultaneously when h > 0).

    ALL-INTEGER state — the recursion is exact, so the recursive-CTE
    oracle matches hash-for-hash, no float policy needed.  Per-key
    ordered recursion = the sanctioned fold (operators/ewm pattern):
    one close-pick shuffle, one partition-streaming pass.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from marketstore_spark.operators.ewm import _partition_sorted

    if threshold_c <= 0:
        raise ValueError("threshold_c must be positive")
    closes = _bucket_closes(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    sym_type = closes.schema["symbol"].dataType
    bkt_type = closes.schema["bucket"].dataType
    schema = StructType(
        [
            StructField("symbol", sym_type),
            StructField("epoch", bkt_type),
            StructField("direction", IntegerType()),
            StructField("excursion_c", LongType()),
        ]
    )
    h = int(threshold_c)

    def fold(batches):
        cur_sym = None
        sp = sn = 0
        prev_close = None
        for pdf in batches:
            out_sym, out_ep, out_dir, out_exc = [], [], [], []
            # .tolist() first: iterating pandas Series yields numpy
            # scalars with per-element overhead — at millions of hourly
            # closes the interpreted loop is the whole operator cost
            # (measured 7.4s -> ~2x faster on plain python ints; the
            # integer recurrence itself is unchanged, parity-neutral)
            for sym, bucket, close in zip(
                pdf["symbol"].tolist(),
                pdf["bucket"].tolist(),
                pdf["close_c"].tolist(),
            ):
                if sym != cur_sym:
                    cur_sym, sp, sn, prev_close = sym, 0, 0, int(close)
                    continue
                d = int(close) - prev_close
                prev_close = int(close)
                sp = max(0, sp + d)
                sn = min(0, sn + d)
                if sp > h:
                    out_sym.append(sym)
                    out_ep.append(bucket)
                    out_dir.append(1)
                    out_exc.append(sp)
                    sp = 0
                elif sn < -h:
                    out_sym.append(sym)
                    out_ep.append(bucket)
                    out_dir.append(-1)
                    out_exc.append(sn)
                    sn = 0
            yield pd.DataFrame(
                {
                    "symbol": out_sym,
                    "epoch": out_ep,
                    "direction": out_dir,
                    "excursion_c": out_exc,
                }
            )

    return _partition_sorted(closes, ["symbol"], ["bucket"]).mapInPandas(
        fold, schema
    )


def rolling_corr_vs_market(
    df: DataFrame,
    n: int = 20,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Rolling ``n``-bucket Pearson correlation between each symbol's
    close and the MARKET AGGREGATE close (the sum of all symbols'
    closes that bucket — an equal-share integer index, no float
    averaging), per (symbol, bucket).

    Exactness: the x-side window sums (Σx, Σx²) are LONG sums of
    per-symbol integer cents (cents² · n ≪ 2⁵³ holds per symbol).
    The y-side does NOT fit LONG at a large symbol universe: ``mkt_c``
    is the SUM of all symbols' closes, so at ~15k symbols × ~$500
    closes, Σ_window(mkt_c²) ≈ 1.3e19 > 2⁶³ and sy² ≈ 4e22 — a
    genuine 100× symbol scale-up dies with ARITHMETIC_OVERFLOW under
    ANSI.  Every moment touching y (y², x·y, and their window sums,
    plus sy at the point it is squared) is therefore computed in
    DECIMAL(38,0) — still exact integer arithmetic, headroom to
    1e38 ≈ (3e13 symbols·cents)² · large windows — and the oracle
    mirrors with HUGEINT (int128).  The final Pearson expression is
    evaluated once in double with IEEE sqrt — mirrored literally by
    the oracle, hence bitwise.  NULL during warm-up or when either
    variance term is zero.

    Shape: the fact scans and shuffles ONCE (the bucket-close
    extraction); the market index is a full-partition window SUM over
    the already-dims-scale closes table — not a groupBy + self-join,
    which would re-scan and re-shuffle the 100 TB fact for the second
    lineage branch (ReusedExchange does not fire across the join's
    two branches).  Then ONE shared per-symbol sort drives everything:
    the five rolling sums are PREFIX-SUM differences
    (``run_i − run_{i−n}``) rather than sliding frames — Spark has no
    retractable window aggregates, so a ``rowsBetween(-(n-1), 0)``
    frame re-aggregates all n rows per output row (n× the Int128 work
    of the DECIMAL moments), while the running frame is incremental
    O(1)/row; exact integer arithmetic makes the difference
    value-identical (r10 re-plan, bitwise-checked vs the unchanged
    oracle).  The lag-of-running columns need a second Window node,
    but it shares the first one's partitioning and sort — no new
    exchange, no new sort (the kaufman_er precedent).
    """
    closes = _bucket_closes(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    j = closes.withColumn(
        "mkt_c", F.sum("close_c").over(Window.partitionBy("bucket"))
    )
    ws = Window.partitionBy("symbol").orderBy("bucket")
    run = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.col("close_c")
    y = F.col("mkt_c")
    # EVERY running total is DECIMAL(38,0): prefix sums accumulate
    # over the whole per-symbol HISTORY, not the n-row window, so the
    # x-side bound weakens from cents²·n to cents²·history — a
    # century of minute bars at $99,999.99 closes wraps a LONG running
    # Σx² where the old sliding frame didn't.  The per-row products
    # (x·x fits LONG at cents²; x·y and y·y carry the y-side market
    # aggregate, decimal per the docstring) promote BEFORE the window
    # sum; sliding differences of exact decimals stay exact.
    y_d = y.cast("decimal(38,0)")
    staged = j.select(
        "symbol",
        "bucket",
        x.alias("x"),
        y.alias("y"),
        F.sum(x.cast("decimal(38,0)")).over(run).alias("rx"),
        F.sum(y_d).over(run).alias("ry"),
        F.sum(x * y_d).over(run).alias("rxy"),
        F.sum((x * x).cast("decimal(38,0)")).over(run).alias("rxx"),
        F.sum(y_d * y_d).over(run).alias("ryy"),
        F.row_number().over(ws).alias("rown"),
    )

    def slide(c: str) -> Column:
        prev = F.lag(F.col(c), int(n)).over(ws)
        return F.col(c) - F.coalesce(prev, F.lit(0))

    sx, sy, sxy, sxx, syy = (
        slide("rx"), slide("ry"), slide("rxy"), slide("rxx"), slide("ryy")
    )
    nn = F.lit(int(n))
    cov = (nn * sxy - sx * sy).cast("double")
    vx = (nn * sxx - sx * sx).cast("double")
    vy = (nn * syy - sy * sy).cast("double")
    corr = F.when(
        (F.col("rown") >= n) & (vx > 0) & (vy > 0),
        cov / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        F.col("x").alias("close_c"),
        F.col("y").alias("mkt_c"),
        corr.alias("corr"),
    )


# ---------------------------------------------------------------------
# Serial-dependence estimators over bucket closes (round 8): the Roll
# effective-spread estimator, return autocorrelation, and the
# Lo-MacKinlay variance ratio — the standard microstructure /
# market-efficiency statistics clients of the reference's OHLCV
# serving (uda/, models/bar.go consumers) compute downstream.
# ---------------------------------------------------------------------


def _move_pairs(
    df: DataFrame,
    timeframe: str,
    symbol_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-symbol (move, prev_move) integer-cent pairs over bucket
    closes — the shared front half of roll_spread / autocorr_returns:
    the bucket-close shuffle, then ONE per-symbol sort driving both
    lags.  The downstream groupBy(symbol) reuses the window's hash
    partitioning, so neither consumer pays a second exchange."""
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    # prev_move as lag(close,1) − lag(close,2), NOT lag(move): a lag of
    # a computed lag chains two WindowExec passes; three direct close
    # lags evaluate in ONE Window node over the shared sort.
    mv = closes.select(
        "symbol",
        "bucket",
        (F.col("close_c") - F.lag("close_c", 1).over(w)).alias("move_c"),
        (F.lag("close_c", 1).over(w) - F.lag("close_c", 2).over(w)).alias(
            "prev_move_c"
        ),
    )
    return mv.filter(
        F.col("move_c").isNotNull() & F.col("prev_move_c").isNotNull()
    )


def _d38(c: Column) -> Column:
    """DECIMAL(38,0) promotion for moment CROSS-TERMS (n·Σxy − Σx·Σy):
    the per-symbol sums themselves fit LONG, but products of two LONG
    sums can silently wrap int64 in Spark (non-ANSI) for very long
    histories of large integer-cent moves — while DuckDB's BIGINT
    would raise, a cross-engine divergence.  Same overflow policy as
    kyle_lambda / mfi.  Value-identical below 2⁶³: decimal→double and
    long→double round the same integer to the same double."""
    return c.cast("decimal(38,0)")


def _pair_sums(pairs: DataFrame) -> DataFrame:
    """Exact LONG sums over the (move, prev_move) pairs per symbol.
    Per-symbol cents² · n ≪ 2⁵³ (the bollinger/realized_vol bound —
    these are single-symbol moves, not the market aggregate that
    forced rolling_corr_vs_market onto DECIMAL)."""
    x, y = F.col("move_c"), F.col("prev_move_c")
    return pairs.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )


def roll_spread(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Roll (1984, public) implied effective spread per symbol:
    ``2·sqrt(−cov(Δp_t, Δp_{t−1}))`` over bucket-close moves, in
    cents.  The bid-ask bounce induces negative serial covariance in
    observed price changes; Roll inverts it into a spread estimate
    using trade prices alone — the classic liquidity measure computed
    from exactly the bar/tick series the reference serves.

    Exactness: population covariance as integers —
    ``cov·n² = n·Σxy − Σx·Σy`` — with ONE double expression per
    symbol: ``spread_c = 2·sqrt(−(n·Σxy − Σx·Σy))/n`` (IEEE sqrt,
    engine-identical).  When the covariance is non-negative the
    estimator is undefined → NULL spread (cov is still emitted).

    Shape: one bucket-close shuffle, one per-symbol sort for both
    lags, and a symbol aggregate that REUSES the sort's partitioning
    (no second exchange) — dims-scale output, nothing quadratic.
    """
    s = _pair_sums(
        _move_pairs(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    )
    n = F.col("n_pairs")
    # cov · n² — DECIMAL(38,0) cross-terms (_d38: long·long can wrap)
    num = _d38(n) * _d38(F.col("sxy")) - _d38(F.col("sx")) * _d38(F.col("sy"))
    cov = num.cast("double") / (n * n).cast("double")
    spread = F.when(
        num < 0, F.lit(2.0) * F.sqrt((-num).cast("double")) / n.cast("double")
    )
    return s.select(
        "symbol",
        "n_pairs",
        cov.alias("move_autocov"),
        spread.alias("roll_spread_c"),
    )


def autocorr_returns(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Lag-1 autocorrelation of bucket-close moves per symbol — the
    serial-dependence screen (momentum/mean-reversion diagnostic) run
    on served bar series.  Pearson over (Δp_t, Δp_{t−1}) pairs:
    every sum is an exact LONG; the correlation is ONE mirrored
    double expression (two IEEE sqrts).  NULL when either variance
    term is zero (constant moves).  Same single-exchange shape as
    roll_spread (shared ``_move_pairs`` front half)."""
    s = _pair_sums(
        _move_pairs(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    )
    n = _d38(F.col("n_pairs"))  # _d38: long·long cross-terms can wrap
    sx, sy = _d38(F.col("sx")), _d38(F.col("sy"))
    cov = (n * _d38(F.col("sxy")) - sx * sy).cast("double")
    vx = (n * _d38(F.col("sxx")) - sx * sx).cast("double")
    vy = (n * _d38(F.col("syy")) - sy * sy).cast("double")
    r = F.when((vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy)))
    return s.select("symbol", "n_pairs", r.alias("autocorr"))


def variance_ratio(
    df: DataFrame,
    q: int = 5,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Lo-MacKinlay (1988, public) variance ratio VR(q) per symbol:
    the variance of OVERLAPPING q-bucket close moves over q times the
    variance of 1-bucket moves — the classic random-walk test (VR ≈ 1
    under a random walk; <1 mean reversion, >1 momentum).  Plain
    population variances (the textbook estimator without the
    small-sample bias correction — documented choice, both engines
    mirror it).

    Exactness: both moves are integer cents from the SAME close
    series (one lag(1), one lag(q) over one shared per-symbol sort);
    all five sums are exact LONGs via conditional aggregation (a
    single aggregate — no second scan for the q-move series), and
    VR is ONE double expression:
    ``((nq·Σqq − Σq²)·n1²) / (q·nq²·(n1·Σmm − Σm²))``.
    NULL when either variance is zero or there are no q-pairs.
    """
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    mv = closes.select(
        "symbol",
        (F.col("close_c") - F.lag("close_c", 1).over(w)).alias("m1"),
        (F.col("close_c") - F.lag("close_c", int(q)).over(w)).alias("mq"),
    )
    agg = mv.groupBy("symbol").agg(
        F.count("m1").alias("n1"),
        F.sum("m1").alias("sm"),
        F.sum(F.col("m1") * F.col("m1")).alias("smm"),
        F.count("mq").alias("nq"),
        F.sum("mq").alias("sq"),
        F.sum(F.col("mq") * F.col("mq")).alias("sqq"),
    )
    n1, nq = F.col("n1"), F.col("nq")
    sm, sq = _d38(F.col("sm")), _d38(F.col("sq"))
    # _d38 cross-terms: n·Σxx and Σx² wrap LONG for long histories
    var1_num = (_d38(n1) * _d38(F.col("smm")) - sm * sm).cast("double")
    varq_num = (_d38(nq) * _d38(F.col("sqq")) - sq * sq).cast("double")
    vr = F.when(
        (nq > 0) & (var1_num > 0),
        (varq_num * (n1 * n1).cast("double"))
        / (F.lit(float(q)) * (nq * nq).cast("double") * var1_num),
    )
    return agg.select("symbol", "n1", "nq", vr.alias("vr"))


def kyle_lambda(
    df: DataFrame,
    timeframe: str = "1 hour",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Kyle (1985, public) price-impact lambda per symbol: the OLS
    slope of bucket price change (cents) on bucket signed volume —
    ``Δp_t = α + λ·SV_t``, where SV is the bucket's net tick-rule
    signed volume (the aggregated order flow of operators/quant.
    tick_rule).  λ measures cents moved per share of net order flow —
    the standard price-impact liquidity estimate over served
    tick+volume series.

    Exactness: y = Δclose (cents, LONG); x = Σ(side·vol) per bucket,
    a LONG; the OLS moment sums involving x are computed in
    DECIMAL(38,0) (the rolling_corr_vs_market policy: a hot symbol's
    bucket volume at 100 TB can reach 1e9-1e10 shares, so Σx² breaks
    2⁶³ where per-symbol cent moves cannot); the slope is ONE double
    division of two exact integers.  NULL when the x-variance is
    zero (no signed flow variation).

    Shape: one tick-level per-symbol sort (tick-rule sign + carry),
    one (symbol, bucket) aggregate, one per-symbol sort over buckets
    for the close lag, then a symbol aggregate reusing that
    partitioning.  The tick-rule side derivation shares its sort with
    the cumulative machinery — nothing quadratic, output dims-scale.
    """
    ticks = _cent_ticks(
        df,
        timeframe,
        symbol_col,
        ts_col,
        value_col,
        tiebreak_col,
        extras=(F.col(volume_col).cast("long").alias("__vol"),),
    )
    wt = Window.partitionBy("symbol").orderBy("__ts", "__tb")
    run = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("px_c").over(wt)
    direction = (
        F.when(F.col("px_c") > prev, F.lit(1))
        .when(F.col("px_c") < prev, F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    signed = ticks.withColumn(
        "__side", F.coalesce(F.last(direction, ignorenulls=True).over(run), F.lit(0))
    )
    buckets = signed.groupBy("symbol", "bucket").agg(
        F.max_by(F.col("px_c"), F.expr(ord_key_ts("__ts", "__tb"))).alias("close_c"),
        F.sum(F.col("__side").cast("long") * F.col("__vol")).alias("sv"),
    )
    wb = Window.partitionBy("symbol").orderBy("bucket")
    pair = buckets.select(
        "symbol",
        (F.col("close_c") - F.lag("close_c").over(wb)).alias("dp"),
        F.col("sv").cast("decimal(38,0)").alias("x"),
    ).filter(F.col("dp").isNotNull())
    agg = pair.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("dp").alias("sy"),
        F.sum(F.col("x") * F.col("dp")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    lam = F.when(den > 0, num / den)
    return agg.select("symbol", "n", lam.alias("kyle_lambda"))


def markout_returns(
    df: DataFrame,
    horizon: int = 3,
    timeframe: str = "1 hour",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-(symbol, bucket) markout: the side-signed drift of the
    close ``horizon`` buckets after each trade —
    ``side · (close_{b+horizon} − trade_px)`` in cents, aggregated per
    bucket (count + exact signed sum + ONE double division for the
    average).  The standard post-trade adverse-selection measure: a
    negative average markout means informed flow picked the trader
    off.  Sides come from the tick rule (operators/quant.tick_rule's
    exact rule); zero-side (pre-first-move) trades are excluded, as
    are trades whose future bucket has no ticks (no close to mark
    against — the bucket must EXIST, exactly horizon steps ahead on
    the wall clock).

    Shape — deliberately NOT groupBy(closes) + join back: that plans
    TWO fact scans (ReusedExchange does not fire across join
    branches — the rolling_corr_vs_market lesson) and re-shuffles the
    fact for the join.  Instead the future close attaches at TICK
    level via a RANGE window over the bucket epoch:
    ``max_by(px_c, (ts, tb)) OVER (PARTITION BY symbol ORDER BY
    bucket_us RANGE BETWEEN h·tf FOLLOWING AND h·tf FOLLOWING)`` —
    the frame is exactly the future bucket's ticks, the max_by is its
    deterministic last-tick close, and Spark evaluates the frame ONCE
    per distinct bucket (SlidingWindowFunctionFrame recomputes only
    when bounds move).  ONE scan, ONE symbol exchange shared by the
    sign windows, the range window, and the final (symbol, bucket)
    aggregate; zero joins.  Requires a fixed-duration timeframe
    (calendar buckets have no constant range offset).
    """
    from marketstore_spark.operators.gapfill import _duration_us

    off = int(horizon) * _duration_us(timeframe)
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    wt = Window.partitionBy("symbol").orderBy("__ts", "__tb")
    run = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("px_c").over(wt)
    direction = (
        F.when(F.col("px_c") > prev, F.lit(1))
        .when(F.col("px_c") < prev, F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    signed = ticks.withColumn(
        "__side", F.coalesce(F.last(direction, ignorenulls=True).over(run), F.lit(0))
    ).withColumn("__bus", epoch_us(F.col("bucket")))
    wr = (
        Window.partitionBy("symbol")
        .orderBy("__bus")
        .rangeBetween(off, off)
    )
    staged = signed.withColumn(
        "fut_close_c", F.max_by(F.col("px_c"), F.struct("__ts", "__tb")).over(wr)
    )
    mo = F.col("__side").cast("long") * (F.col("fut_close_c") - F.col("px_c"))
    agg = (
        staged.filter(
            (F.col("__side") != 0) & F.col("fut_close_c").isNotNull()
        )
        .groupBy("symbol", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(mo).alias("sum_markout_c"),
        )
    )
    return agg.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "n_trades",
        "sum_markout_c",
        (
            F.col("sum_markout_c").cast("double")
            / F.col("n_trades").cast("double")
        ).alias("avg_markout_c"),
    )


def intraday_seasonality(
    df: DataFrame,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Hour-of-day activity profile per symbol — the U-shaped intraday
    seasonality chart (volume and volatility concentrate at the open/
    close) every execution desk builds from served tick series: per
    (symbol, hour 0–23), tick count, total volume, and the average
    absolute tick-to-tick move in cents.

    Exactness: |Δpx| and volume sum as LONGs; the two averages are
    single double divisions (exact-sum/count — never a float mean).
    First tick per symbol has no move and is excluded from the move
    average (but counts toward ticks/volume).

    Shape: ONE tick-level per-symbol sort for the lag, then one
    (symbol, hour) hash aggregate reusing the symbol partitioning —
    24 rows per symbol out.
    """
    ticks = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        (F.col(value_col).cast("decimal(8,2)") * 100).cast("long").alias("px_c"),
        F.col(volume_col).cast("long").alias("vol"),
    )
    wt = Window.partitionBy("symbol").orderBy("__ts", "__tb")
    staged = ticks.withColumn(
        "__absmove", F.abs(F.col("px_c") - F.lag("px_c").over(wt))
    ).withColumn("hour", F.hour("__ts"))
    agg = staged.groupBy("symbol", "hour").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("vol").alias("total_volume"),
        F.count("__absmove").alias("__n_moves"),
        F.sum("__absmove").alias("__sum_absmove"),
    )
    return agg.select(
        "symbol",
        "hour",
        "n_ticks",
        "total_volume",
        (
            F.col("total_volume").cast("double") / F.col("n_ticks").cast("double")
        ).alias("avg_volume"),
        F.when(
            F.col("__n_moves") > 0,
            F.col("__sum_absmove").cast("double")
            / F.col("__n_moves").cast("double"),
        ).alias("avg_abs_move_c"),
    )


def effective_spread(
    trades: DataFrame,
    quotes: DataFrame,
    timeframe: str = "1 hour",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    price_col: str = "px_c",
    mid2_col: str = "mid2",
) -> DataFrame:
    """Effective spread per (symbol, bucket) — the execution-quality
    headline number (SEC Rule 605 reporting uses exactly this):
    ``2·side·(px − mid)`` per trade against the prevailing quote
    midpoint, aggregated per bucket.  Composes :func:`lee_ready` for
    the side and the as-of midpoint attach.

    Exactness: with ``mid2 = bid+ask`` (the doubled midpoint),
    ``2·side·(px − mid) = side·(2·px − mid2)`` — an exact BIGINT per
    trade; the bucket sum is a LONG and the average is ONE double
    division.  Trades with no preceding quote or an unresolved side
    (0) are excluded — only mid-classified or tick-carried trades
    count, mirroring how 605 stats drop unmatchable trades.

    Shape: the lee_ready pipeline (one as-of union window + one trade
    sort) then ONE (symbol, bucket) hash aggregate reusing the symbol
    partitioning — no extra scan, no joins beyond the as-of attach.
    """
    classified = lee_ready(
        trades,
        quotes,
        symbol_col=symbol_col,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
        price_col=price_col,
        mid2_col=mid2_col,
    )
    es = F.col("side").cast("long") * (
        2 * F.col(price_col) - F.col("mid2_c")
    )
    w = F.window("epoch", timeframe)
    agg = (
        classified.filter(
            (F.col("side") != 0) & F.col("mid2_c").isNotNull()
        )
        .groupBy("symbol", w.alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(es).alias("sum_eff_spread_c"),
        )
    )
    return agg.select(
        "symbol",
        F.col("__w.start").alias("epoch"),
        "n_trades",
        "sum_eff_spread_c",
        (
            F.col("sum_eff_spread_c").cast("double")
            / F.col("n_trades").cast("double")
        ).alias("avg_eff_spread_c"),
    )


# ---------------------------------------------------------------------
# Range-based volatility estimators and the high-low spread estimator
# ---------------------------------------------------------------------

# Literal double constants shared with the oracles: both engines parse
# the same decimal string into the same IEEE double, so no engine's
# ln(2)/sqrt(2) rounding enters the contract.
_4LN2 = 2.772588722239781  # 4·ln 2   (Parkinson denominator)
_2LN2M1 = 0.3862943611198906  # 2·ln 2 − 1  (Garman–Klass cross term)
_CS_DEN = 0.1715728752538097  # 3 − 2·√2  (Corwin–Schultz α denominator)


def _bucket_candles(
    df: DataFrame,
    timeframe: str,
    symbol_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Full OHLC candle per (symbol, bucket): exact integer-cent
    min/max picks plus deterministic first/last by (ts, tiebreak) —
    the shared front half of range_vol / corwin_schultz.  Same
    map-side-combinable aggregate shape as ``_bucket_closes`` (the
    min_by/max_by partials combine per map partition, so the exchange
    carries bars, not ticks)."""
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    okey = F.expr(ord_key_ts("__ts", "__tb"))
    return ticks.groupBy("symbol", "bucket").agg(
        F.min_by("px_c", okey).alias("o"),
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", okey).alias("c"),
    )


def range_vol(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-bar range-based variance estimators — Parkinson (1980),
    Garman–Klass (1980), Rogers–Satchell (1991); all public, all built
    from the OHLC candle the reference's candler serves:

        park = ln(H/L)² / (4·ln2)
        gk   = 0.5·ln(H/L)² − (2·ln2 − 1)·ln(C/O)²
        rs   = ln(H/O)·(ln(H/O) − ln(C/O)) + ln(L/O)·(ln(L/O) − ln(C/O))

    Emitted PER BAR, not averaged: a cross-row mean of doubles is
    summation-order-dependent (the float-sum trap the numeric policy
    bans), and the trailing-window average is the consumer's choice
    anyway — exactly how ``atr`` emits per-bucket values.  Candle
    O/H/L/C are exact integer-cent picks; each estimator is ONE
    per-row double expression over them (division → ln → fused
    polynomial, identical shape in the oracle) rounded to 6dp.  Bars
    containing a non-positive price emit NULL estimators (log of a
    non-positive ratio), keeping the candle row.

    Shape: one candle shuffle (map-side partials), then a pure
    projection — no window, no join; linear in symbols × buckets.
    """
    candles = _bucket_candles(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    staged = candles.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "o",
        "h",
        "l",
        "c",
        *range_vol_log_cols(),
    )
    return staged.select(
        "symbol",
        "epoch",
        "o",
        "h",
        "l",
        "c",
        *range_vol_estimators(),
    )


def range_vol_log_cols(
    o: str = "o", h: str = "h", l: str = "l", c: str = "c"  # noqa: E741
) -> list[Column]:
    """The four guarded log-ratio intermediates the estimator chain
    reads — MATERIALIZE these in their own select before
    :func:`range_vol_estimators`: inlined, the three CASE-guarded
    estimators plant 11 ``ln`` calls per row (codegen subexpression
    elimination refuses to share work across CASE branches — the
    corwin_schultz lesson), where these 4 suffice.  The ``when(pos,·)``
    guard stays INSIDE each intermediate so non-positive bars never
    reach ``ln`` (CASE is lazy; the chain then NULL-propagates to the
    same NULL row the inline form produced).  CollapseProject keeps the
    split because each alias is referenced more than once upstream."""
    od, hd, ld, cd = (F.col(x).cast("double") for x in (o, h, l, c))
    pos = (F.col(l) > 0) & (F.col(o) > 0) & (F.col(c) > 0)
    return [
        F.when(pos, F.log(hd / ld)).alias("__hl"),
        F.when(pos, F.log(cd / od)).alias("__co"),
        F.when(pos, F.log(hd / od)).alias("__ho"),
        F.when(pos, F.log(ld / od)).alias("__lo"),
    ]


def range_vol_estimators() -> list[Column]:
    """The shared Parkinson/GK/RS per-row estimator chain over the
    :func:`range_vol_log_cols` intermediates — used by the batch
    operator AND the streaming twin (streaming/ondiskagg.
    stream_range_vol) so a closed streaming bucket emits the bitwise-
    identical batch row (same double association order as the original
    inline chain; NULL intermediates propagate to NULL estimators,
    matching the inline CASE guard)."""
    hl, co, ho, lo = (F.col(x) for x in ("__hl", "__co", "__ho", "__lo"))
    park = hl * hl / F.lit(_4LN2)
    gk = F.lit(0.5) * hl * hl - F.lit(_2LN2M1) * (co * co)
    rs = ho * (ho - co) + lo * (lo - co)
    return [
        F.round(park, 6).alias("park_var"),
        F.round(gk, 6).alias("gk_var"),
        F.round(rs, 6).alias("rs_var"),
    ]


def corwin_schultz(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Corwin–Schultz (2012, public) high-low spread estimator per
    (symbol, bar): bid-ask spread inferred from two ADJACENT bars'
    high-low ranges — highs hit at the ask and lows at the bid, so the
    one-bar range carries both variance and spread while the two-bar
    range carries the same spread but twice the variance:

        β = ln(H_t/L_t)² + ln(H_{t−1}/L_{t−1})²
        γ = ln(max(H_t,H_{t−1}) / min(L_t,L_{t−1}))²
        α = (√(2β) − √β)/(3 − 2√2) − √(γ/(3 − 2√2))
        S = 2·(e^α − 1)/(1 + e^α)

    "Adjacent" means consecutive SERVED bars (a row-lag over the
    symbol's bucket order — the atr/kaufman convention), matching the
    paper's trading-day adjacency.  ``cs_spread`` is the raw estimate
    (can be negative when γ dominates); ``cs_spread_pos`` floors it at
    zero — the paper's recommended treatment for negative two-day
    estimates.  Bars with a non-positive low (either day) emit NULLs.

    Exactness: H/L are exact integer-cent candle picks; β/γ/α/S is one
    per-row double chain (ln/sqrt/exp on identical inputs, constants
    as shared decimal literals) mirrored token-for-token by the
    oracle, rounded to 6dp.  Shape: one candle shuffle, ONE per-symbol
    sort for the two lags, projection out — no joins.
    """
    candles = _bucket_candles(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    ).select("symbol", "bucket", "h", "l")
    w = Window.partitionBy("symbol").orderBy("bucket")
    staged = candles.select(
        "symbol",
        "bucket",
        "h",
        "l",
        F.lag("h").over(w).alias("ph"),
        F.lag("l").over(w).alias("pl"),
    ).filter(F.col("ph").isNotNull())
    ok = (F.col("l") > 0) & (F.col("pl") > 0)
    hd, ld = F.col("h").cast("double"), F.col("l").cast("double")
    phd, pld = F.col("ph").cast("double"), F.col("pl").cast("double")
    r1 = F.log(hd / ld)
    r0 = F.log(phd / pld)
    beta = r1 * r1 + r0 * r0
    g2 = F.greatest(F.col("h"), F.col("ph")).cast("double")
    l2 = F.least(F.col("l"), F.col("pl")).cast("double")
    rg = F.log(g2 / l2)
    gamma = rg * rg
    alpha = (F.sqrt(F.lit(2.0) * beta) - F.sqrt(beta)) / F.lit(_CS_DEN) - F.sqrt(
        gamma / F.lit(_CS_DEN)
    )
    ea = F.exp(alpha)
    spread = F.lit(2.0) * (ea - F.lit(1.0)) / (F.lit(1.0) + ea)
    s6 = F.round(F.when(ok, spread), 6)
    # cs_spread must MATERIALIZE in its own Project before cs_spread_pos
    # references it: inlining `s6` twice in one select plants the whole
    # ln/sqrt/exp/round chain in both output columns, and codegen's
    # subexpression elimination refuses to share work across CASE
    # branches — the duplicated chain measured 0.84 s vs 0.28 s for the
    # split form on identical output (sf0.1, min-of-5).  CollapseProject
    # keeps the split because the alias is referenced three times above.
    base = staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "h",
        "l",
        s6.alias("cs_spread"),
    )
    return base.select(
        "symbol",
        "epoch",
        "h",
        "l",
        "cs_spread",
        # greatest() skips NULLs in Spark (NULL → 0.0); undefined bars
        # must stay NULL, so gate explicitly
        F.when(
            F.col("cs_spread").isNotNull(), F.greatest(F.col("cs_spread"), F.lit(0.0))
        ).alias("cs_spread_pos"),
    )


def kaufman_er(
    df: DataFrame,
    n: int = 10,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Kaufman efficiency ratio (public: Kaufman, *Smarter Trading*,
    1995) per (symbol, bar): net directional change over total path
    length across the trailing ``n`` bars —

        ER_t = |C_t − C_{t−n}| / Σ_{i=t−n+1..t} |C_i − C_{i−1}|

    ER ≈ 1 is a clean trend, ER ≈ 0 is churn; the adaptive-moving-
    average family keys its smoothing on exactly this.  Lags and the
    trailing frame are ROW-based over the symbol's served buckets (the
    atr warm-up convention): NULL for the first ``n`` bars.

    Exactness: closes are exact integer cents, the numerator and the
    window sum are LONGs, and ER is ONE double division (NULL on a
    zero path — an n-bar flatline).  Shape: one bucket-close shuffle
    (map-side max_by partials), ONE per-symbol sort shared by both
    lags, the rolling sum, and the row counter.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    frame = w.rowsBetween(-(int(n) - 1), Window.currentRow)
    # the |move| column must materialize before the frame sum (a window
    # aggregate cannot nest another window function); both Window nodes
    # share ONE spec, so the plan pays one sort, one exchange
    moved = closes.select(
        "symbol",
        "bucket",
        "close_c",
        F.abs(F.col("close_c") - F.lag("close_c", 1).over(w)).alias("__mv"),
        F.abs(F.col("close_c") - F.lag("close_c", int(n)).over(w)).alias("__chg"),
        F.row_number().over(w).alias("__rn"),
    )
    staged = moved.withColumn("__path", F.sum("__mv").over(frame))
    er = F.when(
        (F.col("__rn") > int(n)) & (F.col("__path") > 0),
        F.col("__chg").cast("double") / F.col("__path").cast("double"),
    )
    return staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "close_c",
        er.alias("er"),
    )


def realized_moments(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Realized skewness and kurtosis per (symbol, bucket) from
    intraday tick-to-tick moves (Amaya–Christoffersen–Jacobs–Vasquez
    2015, public: higher realized moments predict the cross-section of
    returns).  With m_i the integer-cent moves INSIDE the bucket and
    N their count:

        rskew = √N · Σm³ / (Σm²)^{3/2}
        rkurt = N · Σm⁴ / (Σm²)²

    Exactness: moves are exact integer cents; Σm², Σm³, Σm⁴
    accumulate in DECIMAL(38,0) (a hot symbol's quartic sum clears
    2⁶³ — the kyle_lambda policy; Σm³ is signed); the normalizations
    are sqrt-only double chains — (Σm²)^{3/2} is written
    ``√(Σm²)·Σm²``, never pow(x, 1.5), because IEEE sqrt is correctly
    rounded on both engines while libm pow is not.  NULL when the
    bucket has <2 ticks or zero variance.

    Shape: ONE (symbol, bucket) exchange shared by the in-bucket move
    lag and the moment aggregate (the window's partitioning satisfies
    the groupBy) — bar-scale output.
    """
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    w = Window.partitionBy("symbol", "bucket").orderBy("__ts", "__tb")
    mv = ticks.select(
        "symbol",
        "bucket",
        (F.col("px_c") - F.lag("px_c").over(w)).alias("m"),
    ).filter(F.col("m").isNotNull())
    md = F.col("m").cast("decimal(38,0)")
    agg = mv.groupBy("symbol", "bucket").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.sum(md * md).alias("__s2"),
        F.sum(md * md * md).alias("__s3"),
        F.sum(md * md * md * md).alias("__s4"),
    )
    n_d = F.col("n_moves").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    ok = (F.col("n_moves") >= 2) & (F.col("__s2") > 0)
    rskew = F.when(ok, F.sqrt(n_d) * s3 / (F.sqrt(s2) * s2))
    rkurt = F.when(ok, n_d * s4 / (s2 * s2))
    return agg.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "n_moves",
        rskew.alias("rskew"),
        rkurt.alias("rkurt"),
    )


def trimmed_mean(
    df: DataFrame,
    trim_pct: int = 5,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Trimmed mean price per (symbol, bucket): drop the lowest and
    highest ``trim_pct`` percent of ticks BY RANK, average the rest —
    the classic robust location estimate, here the fat-finger/bad-prin
    resistant bucket price a surveillance desk reads next to VWAP.

    The trim count is exact integer arithmetic — ``k = n·pct DIV 100``
    — never ``floor(n·0.05)`` (a float product), so both engines drop
    identical rows; rank ties break on (price, ts, tiebreak), fully
    deterministic.  The kept sum is an exact LONG and the mean is ONE
    double division.  ``0 ≤ trim_pct < 50`` guarantees at least one
    kept tick per non-empty bucket (k ≤ n·49/100 < n/2) — no NULL arm.

    Shape: ONE (symbol, bucket) exchange shared by the rank window
    (count rides the same partition) and the kept aggregate —
    bar-scale output.
    """
    if not 0 <= int(trim_pct) < 50:
        raise ValueError("trim_pct must be in [0, 50)")
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    w = Window.partitionBy("symbol", "bucket")
    ranked = ticks.select(
        "symbol",
        "bucket",
        "px_c",
        F.row_number()
        .over(w.orderBy("px_c", "__ts", "__tb"))
        .alias("__rk"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    k = F.expr(f"__n * {int(trim_pct)} DIV 100")
    kept = ranked.filter((F.col("__rk") > k) & (F.col("__rk") <= F.col("__n") - k))
    agg = kept.groupBy("symbol", "bucket").agg(
        F.max("__n").alias("n_ticks"),
        F.count(F.lit(1)).alias("n_used"),
        F.sum("px_c").alias("__s"),
    )
    return agg.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "n_ticks",
        "n_used",
        (F.col("__s").cast("double") / F.col("n_used").cast("double")).alias(
            "trimmed_mean_c"
        ),
    )


def mfi(
    df: DataFrame,
    n: int = 14,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Money Flow Index (volume-weighted RSI; public, standard TA) per
    (symbol, bucket): raw money flow is typical price × volume, signed
    by the typical-price direction; MFI over the trailing ``n`` buckets
    is ``100·Σpos/(Σpos+Σneg)`` — algebraically the textbook
    ``100 − 100/(1 + MFR)`` with ONE division instead of two.

    Exactness: the typical price is kept as the INTEGER ``3·tp =
    H+L+C`` (dividing by 3 first would leave integer cents — the flow
    comparison and products are exact on the tripled value and the 3
    cancels in the ratio); flows are LONG·LONG sums in DECIMAL(38,0)
    (hot-symbol money flow clears 2⁶³ — the kyle_lambda policy);
    unchanged typical price contributes to NEITHER side (the Wilder
    convention).  NULL during warm-up or when no bucket in the window
    moved.

    Shape: one candle shuffle (map-side partials incl. the volume
    sum), ONE per-symbol sort shared by the direction lag, the running
    sums, their lags, and the row counter.  The trailing-``n`` flow
    sums are PREFIX-SUM differences (``run_i − run_{i−n}``), not
    sliding frames: Spark has no retractable window aggregates, so a
    ``rowsBetween(-(n-1), 0)`` frame re-adds all n Int128 decimals per
    output row, while the running frame is incremental O(1)/row — the
    rolling_corr_market policy; exact integer decimal arithmetic makes
    the difference value-identical.  DECIMAL(38,0) running totals
    accumulate over the whole per-symbol history (not the n-row
    window) and stay far inside 38 digits; ANSI mode would fail loudly
    at the boundary.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    ticks = _cent_ticks(
        df,
        timeframe,
        symbol_col,
        ts_col,
        value_col,
        tiebreak_col,
        extras=(F.col(volume_col).cast("long").alias("__vol"),),
    )
    okey = F.expr(ord_key_ts("__ts", "__tb"))
    candles = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", okey).alias("c"),
        F.sum("__vol").alias("vol"),
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    tp3 = F.col("h") + F.col("l") + F.col("c")
    staged = candles.select(
        "symbol",
        "bucket",
        tp3.alias("__tp3"),
        (tp3.cast("decimal(38,0)") * F.col("vol")).alias("__mf"),
    )
    prev = F.lag("__tp3").over(w)
    pos = F.when(F.col("__tp3") > prev, F.col("__mf")).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    neg = F.when(F.col("__tp3") < prev, F.col("__mf")).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    flows = staged.select(
        "symbol",
        "bucket",
        pos.alias("__pos"),
        neg.alias("__neg"),
        F.row_number().over(w).alias("__rn"),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = flows.select(
        "symbol",
        "bucket",
        "__rn",
        F.sum("__pos").over(run).alias("__rp"),
        F.sum("__neg").over(run).alias("__rq"),
    )

    def _slide(c: str) -> Column:
        prev = F.lag(F.col(c), int(n)).over(w)
        return F.col(c) - F.coalesce(prev, F.lit(0).cast("decimal(38,0)"))

    out = pref.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        F.col("__rn").alias("__rn"),
        _slide("__rp").alias("__sp"),
        _slide("__rq").alias("__sn"),
    )
    tot = F.col("__sp") + F.col("__sn")
    val = F.when(
        (F.col("__rn") > int(n)) & (tot > 0),
        F.lit(100.0) * F.col("__sp").cast("double") / tot.cast("double"),
    )
    return out.select("symbol", "epoch", val.alias("mfi"))


def cci(
    df: DataFrame,
    n: int = 14,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Commodity Channel Index (Lambert 1980, public TA standard) per
    (symbol, bucket): ``(tp − SMA(tp)) / (0.015 · meandev(tp))`` over
    the trailing ``n`` bars, where tp is the typical price and meandev
    is the mean absolute deviation FROM THE WINDOW'S OWN MEAN.

    The mean deviation is the textbook float trap — Σ|tp_i − sma_t|
    sums floats whose value depends on association (and window sums of
    floats use segment trees in some engines — different association
    per row).  Scaling by ``3n`` clears every division out of the
    absolute values: with the INTEGER ``3tp = H+L+C`` and the window
    sum ``S = Σ3tp``,

        CCI = n·(n·3tp_t − S) / (0.015 · Σ|n·3tp_i − S|)

    — both the numerator and the deviation sum are EXACT LONGs, and
    the only float arithmetic is the final mirrored expression.
    Σ|n·3tp_i − S| depends on the row's own window (not a prefix sum),
    so it folds over ``collect_list(3tp)`` of the frame — an n-element
    integer array per bar, bounded by the parameter, never by data.
    NULL during warm-up or a flat window (meandev 0).

    Shape: one candle shuffle, ONE per-symbol sort shared by the
    window sum, the array collect, and the row counter; the fold is a
    per-row HOF over n ints.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    okey = F.expr(ord_key_ts("__ts", "__tb"))
    candles = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", okey).alias("c"),
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    frame = w.rowsBetween(-(int(n) - 1), Window.currentRow)
    tp3 = (F.col("h") + F.col("l") + F.col("c")).alias("__tp3")
    staged = candles.select("symbol", "bucket", tp3).select(
        "symbol",
        "bucket",
        "__tp3",
        F.sum("__tp3").over(frame).alias("__s"),
        F.collect_list("__tp3").over(frame).alias("__arr"),
        F.row_number().over(w).alias("__rn"),
    )
    nn = F.lit(int(n)).cast("long")
    md = F.aggregate(
        F.col("__arr"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.abs(nn * x - F.col("__s")),
    )
    num = nn * F.col("__tp3") - F.col("__s")
    out = staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "__rn",
        num.alias("__num"),
        md.alias("__md"),
    )
    val = F.when(
        (F.col("__rn") >= int(n)) & (F.col("__md") > 0),
        (F.lit(float(n)) * F.col("__num").cast("double"))
        / (F.lit(0.015) * F.col("__md").cast("double")),
    )
    return out.select("symbol", "epoch", val.alias("cci"))


def aroon(
    df: DataFrame,
    n: int = 25,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Aroon indicator (Chande 1995, public TA standard) per (symbol,
    bucket): ``aroon_up = 100·(n − bars_since_n_bar_high)/n`` and the
    ``aroon_down`` mirror on lows — the trend-age oscillator (a recent
    extreme ⇒ near 100).

    "Bars since the high" is a windowed ARGMAX: ``max(struct(h, pos))``
    over the trailing frame picks the highest high and — on equal
    highs — the MOST RECENT one (the struct tiebreak; the standard
    convention, since a re-touched high restarts the clock).  Lows
    mirror via ``min(struct(l, -pos))``… flipped sign so ties also
    pick the most recent.  Everything is exact integers (candle picks,
    row positions); each output is ONE double division by the literal
    ``n``.  NULL during warm-up (fewer than ``n+1`` bars).

    Shape: one candle shuffle, ONE per-symbol sort shared by the row
    counter and both frame argmaxes — bar-scale, no joins.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    candles = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    # frame = current bar plus the n prior bars (the n-bar lookback
    # INCLUDES the current bar at distance 0 — the standard definition)
    frame = w.rowsBetween(-int(n), Window.currentRow)
    staged = candles.select(
        "symbol", "bucket", "h", "l", F.row_number().over(w).alias("__rn")
    )
    hi_pos = F.max(F.struct(F.col("h"), F.col("__rn"))).over(frame)["__rn"]
    lo_pos = F.max(F.struct(-F.col("l"), F.col("__rn"))).over(frame)["__rn"]
    since_hi = F.col("__rn") - hi_pos
    since_lo = F.col("__rn") - lo_pos
    nd = F.lit(float(n))
    ready = F.col("__rn") > int(n)
    up = F.when(ready, F.lit(100.0) * (nd - since_hi.cast("double")) / nd)
    down = F.when(ready, F.lit(100.0) * (nd - since_lo.cast("double")) / nd)
    return staged.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        up.alias("aroon_up"),
        down.alias("aroon_down"),
    )


def adx(
    df: DataFrame,
    n: int = 14,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """ADX — Wilder's (1978, public) Average Directional Index per
    (symbol, bucket), with ±DI and DX: directional movement
    (+DM = high advance when it beats the low decline, −DM mirrored),
    true range, each smoothed by the Wilder RMA ``α=1/n`` seeded at
    the first value (the documented RMA convention — TradingView /
    pandas-ta ``rma``; Wilder's original two-phase n-sum seed differs
    only in warm-up), then

        ±DI = 100·rma(±DM)/rma(TR)      (0 when rma(TR)=0)
        DX  = 100·|+DI − −DI|/(+DI+−DI) (0 when both DI are 0)
        ADX = rma(DX), seeded at the first DX

    Four coupled recurrences — no window frame expresses them, so they
    ride the sanctioned ewm.py partition-streaming fold (ONE shuffle):
    candle aggregate → per-symbol sort shared by the three lags →
    mapInPandas pass.  Every step is the LITERAL float64 chain
    ``a·x + b·prev`` / ``(100·s)/t`` with a = 1/n built arithmetically
    on both engines, so the recursive-CTE oracle replays it bitwise
    (the ema/macd/heikin_ashi contract).  DM/TR inputs are exact
    integer cents; the first bar (no predecessor) is excluded.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from marketstore_spark.operators.ewm import _partition_sorted

    if n <= 0:
        raise ValueError("n must be positive")
    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    okey = F.expr(ord_key_ts("__ts", "__tb"))
    candles = ticks.groupBy("symbol", "bucket").agg(
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", okey).alias("c"),
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    lagged = candles.select(
        "symbol",
        "bucket",
        "h",
        "l",
        "c",
        F.lag("h").over(w).alias("ph"),
        F.lag("l").over(w).alias("pl"),
        F.lag("c").over(w).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    up = F.col("h") - F.col("ph")
    dn = F.col("pl") - F.col("l")
    staged = lagged.select(
        "symbol",
        "bucket",
        F.when((up > dn) & (up > 0), up).otherwise(F.lit(0)).alias("dmp"),
        F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0)).alias("dmm"),
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.col("pc")),
            F.abs(F.col("l") - F.col("pc")),
        ).alias("tr"),
    )
    sym_type = staged.schema["symbol"].dataType
    bkt_type = staged.schema["bucket"].dataType
    schema = StructType(
        [
            StructField("symbol", sym_type),
            StructField("epoch", bkt_type),
            StructField("dmp", LongType()),
            StructField("dmm", LongType()),
            StructField("tr", LongType()),
            StructField("di_plus", DoubleType()),
            StructField("di_minus", DoubleType()),
            StructField("dx", DoubleType()),
            StructField("adx", DoubleType()),
        ]
    )
    a = 1.0 / float(n)
    b = 1.0 - a

    def fold(batches: "pd.DataFrame") -> "pd.DataFrame":
        cur = None
        sdp = sdm = st = sadx = 0.0
        for pdf in batches:
            m = len(pdf)
            syms = pdf["symbol"].to_numpy()
            dmp = pdf["dmp"].to_numpy(dtype=np.int64)
            dmm = pdf["dmm"].to_numpy(dtype=np.int64)
            tr = pdf["tr"].to_numpy(dtype=np.int64)
            o_dip = np.empty(m)
            o_dim = np.empty(m)
            o_dx = np.empty(m)
            o_adx = np.empty(m)
            for i in range(m):
                if syms[i] != cur:
                    cur = syms[i]
                    sdp, sdm, st = float(dmp[i]), float(dmm[i]), float(tr[i])
                    first = True
                else:
                    sdp = a * float(dmp[i]) + b * sdp
                    sdm = a * float(dmm[i]) + b * sdm
                    st = a * float(tr[i]) + b * st
                    first = False
                dip = (100.0 * sdp) / st if st > 0.0 else 0.0
                dim = (100.0 * sdm) / st if st > 0.0 else 0.0
                s = dip + dim
                dx = (100.0 * abs(dip - dim)) / s if s > 0.0 else 0.0
                sadx = dx if first else a * dx + b * sadx
                o_dip[i], o_dim[i], o_dx[i], o_adx[i] = dip, dim, dx, sadx
            yield pd.DataFrame(
                {
                    "symbol": pdf["symbol"],
                    "epoch": pdf["bucket"],
                    "dmp": pdf["dmp"],
                    "dmm": pdf["dmm"],
                    "tr": pdf["tr"],
                    "di_plus": o_dip,
                    "di_minus": o_dim,
                    "dx": o_dx,
                    "adx": o_adx,
                }
            )

    return _partition_sorted(staged, ["symbol"], ["bucket"]).mapInPandas(
        fold, schema
    )


def volume_profile(
    df: DataFrame,
    bin_cents: int = 100,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Volume profile per (symbol, bucket): traded volume per PRICE
    LEVEL (``bin_cents``-wide integer bins) plus each bucket's point
    of control — the price level with the most volume (the
    market-profile POC every execution desk charts).

    Exactness: levels are exact integer division (``px_c DIV
    bin_cents``), volumes are LONG sums, the POC is a max_by on the
    (volume, level) struct — ties break on the HIGHEST level,
    deterministic on both engines.  The level share is ONE double
    division.

    Shape (100 TB): one (symbol, bucket, level) hash aggregate with
    map-side partials — wordcount over ticks — then the POC and total
    come from a FULL-PARTITION WINDOW over the level-scale rows, NOT
    a groupBy + self-join back (which plans the tick scan twice —
    ReusedExchange does not fire across join branches, the markout
    lesson; plan test pins ONE FileScan).  The second exchange
    carries bar×levels rows only.
    """
    if bin_cents <= 0:
        raise ValueError("bin_cents must be positive")
    ticks = _cent_ticks(
        df,
        timeframe,
        symbol_col,
        ts_col,
        value_col,
        tiebreak_col=None,
        extras=(F.col(volume_col).cast("long").alias("__vol"),),
    )
    levels = (
        ticks.withColumn("level", F.expr(f"px_c DIV {int(bin_cents)}"))
        .groupBy("symbol", "bucket", "level")
        .agg(
            F.sum("__vol").alias("level_volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    w = Window.partitionBy("symbol", "bucket")
    joined = levels.select(
        "symbol",
        "bucket",
        "level",
        "level_volume",
        "n_ticks",
        F.max(F.struct(F.col("level_volume"), F.col("level")))
        .over(w)["level"]
        .alias("poc_level"),
        F.sum("level_volume").over(w).alias("total_volume"),
    )
    share = F.when(
        F.col("total_volume") > 0,
        F.col("level_volume").cast("double") / F.col("total_volume").cast("double"),
    )
    return joined.select(
        "symbol",
        F.col("bucket").alias("epoch"),
        "level",
        "level_volume",
        "n_ticks",
        "poc_level",
        share.alias("volume_share"),
    )


def liquidity_panel(
    df: DataFrame,
    q: int = 5,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """The per-symbol liquidity PANEL — Roll implied spread, lag-1
    move autocorrelation, and the Lo-MacKinlay VR(q) in ONE pass: a
    desk reads these together, and running the three operators
    separately costs three fact scans and six exchanges where the
    fused panel costs one scan and two (the document_features
    principle: compute sibling signals in one plan, never join
    per-operator outputs).

    Semantics are EXACTLY the standalone operators' (same lags off one
    shared per-symbol sort, same exact LONG moment sums (DECIMAL(38,0)
    cross-terms, the standalone operators' overflow policy) in one
    conditional aggregate, same final double expressions) — pinned in
    tests against roll_spread / autocorr_returns / variance_ratio
    value-for-value.
    """
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    # every lag in ONE Window node (never a lag-of-a-lag)
    mv = closes.select(
        "symbol",
        (F.col("close_c") - F.lag("close_c", 1).over(w)).alias("x"),
        (F.lag("close_c", 1).over(w) - F.lag("close_c", 2).over(w)).alias("y"),
        (F.col("close_c") - F.lag("close_c", int(q)).over(w)).alias("mq"),
    )
    pair = F.col("x").isNotNull() & F.col("y").isNotNull()

    def ps(c: Column) -> Column:
        return F.sum(F.when(pair, c))

    agg = mv.groupBy("symbol").agg(
        F.count(F.when(pair, F.lit(1))).alias("n_pairs"),
        F.coalesce(ps(F.col("x")), F.lit(0)).alias("sx"),
        F.coalesce(ps(F.col("y")), F.lit(0)).alias("sy"),
        F.coalesce(ps(F.col("x") * F.col("y")), F.lit(0)).alias("sxy"),
        F.coalesce(ps(F.col("x") * F.col("x")), F.lit(0)).alias("sxx"),
        F.coalesce(ps(F.col("y") * F.col("y")), F.lit(0)).alias("syy"),
        F.count("x").alias("n1"),
        F.coalesce(F.sum("x"), F.lit(0)).alias("sm"),
        F.coalesce(F.sum(F.col("x") * F.col("x")), F.lit(0)).alias("smm"),
        F.count("mq").alias("nq"),
        F.coalesce(F.sum("mq"), F.lit(0)).alias("sq"),
        F.coalesce(F.sum(F.col("mq") * F.col("mq")), F.lit(0)).alias("sqq"),
    )
    n = F.col("n_pairs")
    # every cross-term in DECIMAL(38,0) (_d38) — mirrors the standalone
    # roll_spread / autocorr_returns / variance_ratio overflow policy
    nd, sx, sy = _d38(n), _d38(F.col("sx")), _d38(F.col("sy"))
    num = nd * _d38(F.col("sxy")) - sx * sy
    cov = F.when(n > 0, num.cast("double") / (n * n).cast("double"))
    spread = F.when(
        num < 0, F.lit(2.0) * F.sqrt((-num).cast("double")) / n.cast("double")
    )
    vx = (nd * _d38(F.col("sxx")) - sx * sx).cast("double")
    vy = (nd * _d38(F.col("syy")) - sy * sy).cast("double")
    ac = F.when(
        (vx > 0) & (vy > 0), num.cast("double") / (F.sqrt(vx) * F.sqrt(vy))
    )
    n1, nq = F.col("n1"), F.col("nq")
    sm, sq = _d38(F.col("sm")), _d38(F.col("sq"))
    var1_num = (_d38(n1) * _d38(F.col("smm")) - sm * sm).cast("double")
    varq_num = (_d38(nq) * _d38(F.col("sqq")) - sq * sq).cast("double")
    vr = F.when(
        (nq > 0) & (var1_num > 0),
        (varq_num * (n1 * n1).cast("double"))
        / (F.lit(float(q)) * (nq * nq).cast("double") * var1_num),
    )
    return agg.select(
        "symbol",
        "n_pairs",
        F.col("n1"),
        F.col("nq"),
        cov.alias("move_autocov"),
        spread.alias("roll_spread_c"),
        ac.alias("autocorr"),
        vr.alias("vr"),
    )


def gap_percentiles(
    df: DataFrame,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Inter-tick gap distribution per symbol — p50/p90/p99 of the
    microsecond gaps between consecutive ticks plus the max and count:
    the feed-health SLA percentiles a marketstore operator reads next
    to the gap watcher's threshold alerts (streaming/gapwatch) and
    uda_gap's detector — same signal, the DISTRIBUTION view.

    Exactness — EXACT-RATIONAL interpolation, not the engine's float
    percentile: at ~10¹¹-µs gap magnitudes a double's ulp (~2·10⁻⁵)
    exceeds the 6dp rounding grid, so the length_percentiles rounding
    contract cannot absorb the engines' differently-associated
    ``lo + frac·(hi−lo)`` folds (found by hash parity here).  Instead
    the rank ``p·(n−1)`` is kept as the rational ``(num·(n−1)) divmod
    den``, the two bracketing order statistics are integer rank picks
    off one per-gap sort, and the interpolated value is ONE double
    division of the exact LONG ``lo·(den−rem) + hi·rem`` by the
    literal ``den`` — bitwise on any engine, any magnitude.

    At 100 TB the exact per-group percentile sorts each symbol's gaps
    once (symbols are dims-scale; GK ``approx_percentile`` is the
    documented swap-in, the percentiles_approx pattern).
    """
    from marketstore_spark.functions.timeutil import epoch_us

    w = Window.partitionBy("symbol").orderBy("__ts", "__tb")
    staged = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
    ).withColumn("__t_us", epoch_us(F.col("__ts")))
    gaps = staged.select(
        "symbol",
        (F.col("__t_us") - F.lag("__t_us").over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    gw = Window.partitionBy("symbol")
    ranked = gaps.select(
        "symbol",
        "gap_us",
        F.row_number().over(gw.orderBy("gap_us")).alias("__rk"),
        F.count(F.lit(1)).over(gw).alias("__n"),
    )

    def pick(num: int, den: int, name: str) -> list[Column]:
        idx = F.expr(f"{num} * (__n - 1) DIV {den}")
        rem = F.expr(f"{num} * (__n - 1) % {den}")
        lo = F.max(F.when(F.col("__rk") == idx + 1, F.col("gap_us")))
        hi = F.max(F.when(F.col("__rk") == idx + 2, F.col("gap_us")))
        num_c = lo * (F.lit(den) - F.max(rem)) + F.coalesce(hi, F.lit(0)) * F.max(rem)
        return [(num_c.cast("double") / F.lit(float(den))).alias(name)]

    agg = ranked.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
        *pick(1, 2, "p50_gap_us"),
        *pick(9, 10, "p90_gap_us"),
        *pick(99, 100, "p99_gap_us"),
    )
    return agg


def price_impact_curve(
    df: DataFrame,
    n_buckets: int = 10,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Price-impact curve per symbol: average absolute tick move by
    TRADE-SIZE decile — the empirical surface behind the square-root
    impact law (impact ∝ √Q; Bouchaud et al., public literature).  A
    desk plots avg |Δp| against size rank to see where its flow starts
    moving the market.

    Size buckets are RANK deciles, not value deciles: volume
    distributions are heavy-tailed, so value-bucketing puts almost
    everything in bucket 0.  The decile is exact integer arithmetic —
    ``(rank−1)·n_buckets DIV n`` over a deterministic (volume, ts,
    tiebreak) rank — and every aggregate is an exact LONG sum; the two
    averages are single double divisions.  Ticks without a previous
    tick (no move) are excluded from the curve.

    Shape: one per-symbol time sort for the move lag, one per-symbol
    volume-rank sort (genuinely different orders — two window stacks
    on ONE symbol partitioning), then a (symbol, bucket) aggregate —
    n_buckets rows per symbol out.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    ticks = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        (F.col(value_col).cast("decimal(8,2)") * 100).cast("long").alias("px_c"),
        F.col(volume_col).cast("long").alias("vol"),
    )
    wt = Window.partitionBy("symbol").orderBy("__ts", "__tb")
    moved = ticks.select(
        "symbol",
        "vol",
        F.abs(F.col("px_c") - F.lag("px_c").over(wt)).alias("absmove"),
    ).filter(F.col("absmove").isNotNull())
    wv = Window.partitionBy("symbol")
    ranked = moved.select(
        "symbol",
        "vol",
        "absmove",
        F.row_number().over(wv.orderBy("vol", "absmove", "symbol")).alias("__rk"),
        F.count(F.lit(1)).over(wv).alias("__n"),
    )
    bucket = F.expr(f"(__rk - 1) * {int(n_buckets)} DIV __n")
    agg = ranked.groupBy("symbol", bucket.alias("size_bucket")).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("vol").alias("total_volume"),
        F.sum("absmove").alias("__sm"),
    )
    return agg.select(
        "symbol",
        "size_bucket",
        "n_trades",
        (
            F.col("total_volume").cast("double") / F.col("n_trades").cast("double")
        ).alias("avg_volume"),
        (
            F.col("__sm").cast("double") / F.col("n_trades").cast("double")
        ).alias("avg_abs_move_c"),
    )


def move_percentiles(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-symbol distribution of bucket-close moves — p01/p50/p99 of
    the SIGNED integer-cent move plus min/max and count: the
    historical-VaR surface (p01 of daily moves IS the 99% one-day VaR
    in cents) read next to realized_moments' shape statistics.

    Same EXACT-RATIONAL interpolation as gap_percentiles (rank
    ``p·(n−1)`` as divmod, integer order-statistic picks, one division
    of ``lo·(den−rem)+hi·rem``) — moves are signed, which changes
    nothing: the rank sort and the integer interpolation are
    sign-agnostic, and the bitwise-at-any-magnitude property is what
    makes a VaR number auditable across engines.
    """
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    moves = closes.select(
        "symbol",
        (F.col("close_c") - F.lag("close_c").over(w)).alias("move_c"),
    ).filter(F.col("move_c").isNotNull())
    gw = Window.partitionBy("symbol")
    ranked = moves.select(
        "symbol",
        "move_c",
        F.row_number().over(gw.orderBy("move_c")).alias("__rk"),
        F.count(F.lit(1)).over(gw).alias("__n"),
    )

    def pick(num: int, den: int, name: str) -> Column:
        idx = F.expr(f"{num} * (__n - 1) DIV {den}")
        rem = F.expr(f"{num} * (__n - 1) % {den}")
        lo = F.max(F.when(F.col("__rk") == idx + 1, F.col("move_c")))
        hi = F.max(F.when(F.col("__rk") == idx + 2, F.col("move_c")))
        num_c = lo * (F.lit(den) - F.max(rem)) + F.coalesce(hi, F.lit(0)) * F.max(rem)
        return (num_c.cast("double") / F.lit(float(den))).alias(name)

    return ranked.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.min("move_c").alias("min_move_c"),
        F.max("move_c").alias("max_move_c"),
        pick(1, 100, "p01_move_c"),
        pick(1, 2, "p50_move_c"),
        pick(99, 100, "p99_move_c"),
    )


def market_concentration(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
) -> DataFrame:
    """Cross-sectional market concentration per bucket: how much of
    the market's dollar volume the busiest symbols take — the
    Herfindahl–Hirschman index over per-symbol dollar volume, its
    inverse (the EFFECTIVE number of active symbols), and the single
    largest symbol's share.  The market-structure health chart next
    to the per-symbol activity views (top_symbols, xs_momentum).

    A float Σshare² across symbols is accumulation-order-dependent —
    banned — so HHI uses the source_token_stats identity applied
    cross-sectionally: ``HHI = Σdv² / (Σdv)²`` with ``Σdv²`` exact in
    DECIMAL(38,0) (a bucket's squared dollar volume clears 2⁶³ long
    before 100 TB) and both divisions one mirrored double chain.  The
    top share is an exact max over integers.

    Shape: one (symbol, bucket) dollar-volume aggregate (map-side
    partials over ticks), then ONE #buckets-row aggregate — nothing
    corpus-scale after the first combine, no windows, no joins.
    """
    w = F.window(ts_col, timeframe)
    ticks = df.select(
        F.col(symbol_col).alias("symbol"),
        w["start"].alias("bucket"),
        (
            (F.col(value_col).cast("decimal(8,2)") * 100).cast("long")
            * F.col(volume_col).cast("long")
        ).alias("__dv_c"),
    )
    per_sym = ticks.groupBy("symbol", "bucket").agg(
        F.sum("__dv_c").alias("dv")
    )
    dvd = F.col("dv").cast("decimal(38,0)")
    per_bucket = per_sym.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_symbols"),
        F.sum("dv").alias("total_dv_c"),
        F.sum(dvd * dvd).alias("__dv2"),
        F.max("dv").alias("__top_dv"),
    )
    tot = F.col("total_dv_c").cast("double")
    hhi = F.when(
        F.col("total_dv_c") > 0,
        F.col("__dv2").cast("double") / (tot * tot),
    )
    return per_bucket.select(
        F.col("bucket").alias("epoch"),
        "n_symbols",
        "total_dv_c",
        F.round(hhi, 6).alias("hhi"),
        F.round(
            F.when(F.col("__dv2") > 0, (tot * tot) / F.col("__dv2").cast("double")),
            6,
        ).alias("effective_symbols"),
        F.when(
            F.col("total_dv_c") > 0,
            F.col("__top_dv").cast("double") / tot,
        ).alias("top_share"),
    )


def acf_spectrum(
    df: DataFrame,
    lags: Sequence[int] = (1, 2, 3, 5, 10),
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Autocorrelation SPECTRUM of bucket-close moves per symbol: the
    Pearson ACF at each requested lag, long-form (symbol, lag, n_pairs,
    acf).  autocorr_returns reads lag 1; the momentum/reversal
    diagnostic is the SIGN PATTERN across lags (reversal at 1, drift
    at 5–10 is the classic microstructure signature), and computing
    the lags separately would pay one scan + sort PER LAG.

    One pass: every close lag the spectrum needs (1, and k, k+1 for
    each k) evaluates in a SINGLE Window node over one per-symbol
    sort; each lag's five moment sums are conditional exact-LONG
    aggregates in ONE groupBy; the long-form output unpivots the
    aggregate row with ``stack`` (a pure projection).  The final
    Pearson per lag is the autocorr_returns expression, NULL on zero
    variance.  Output rows = symbols × lags — dims-scale.
    """
    lags = sorted(set(int(k) for k in lags))
    if not lags or lags[0] < 1:
        raise ValueError("lags must be positive integers")
    closes = _bucket_closes(
        df, timeframe, symbol_col, ts_col, value_col, tiebreak_col
    )
    w = Window.partitionBy("symbol").orderBy("bucket")
    lag_of = {0: F.col("close_c")}
    for k in {1, *(k for k in lags), *(k + 1 for k in lags)}:
        lag_of[k] = F.lag("close_c", k).over(w)
    mv = closes.select(
        "symbol",
        (lag_of[0] - lag_of[1]).alias("m0"),
        *[
            (lag_of[k] - lag_of[k + 1]).alias(f"m{k}")
            for k in lags
        ],
    )
    aggs = []
    for k in lags:
        x, y = F.col("m0"), F.col(f"m{k}")
        both = x.isNotNull() & y.isNotNull()

        def s(c, name, both=both):
            return F.coalesce(F.sum(F.when(both, c)), F.lit(0)).alias(name)

        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"n_{k}"),
            s(x, f"sx_{k}"),
            s(y, f"sy_{k}"),
            s(x * y, f"sxy_{k}"),
            s(x * x, f"sxx_{k}"),
            s(y * y, f"syy_{k}"),
        ]
    g = mv.groupBy("symbol").agg(*aggs)

    def acf(k: int) -> Column:
        n = F.col(f"n_{k}")
        num = (n * F.col(f"sxy_{k}") - F.col(f"sx_{k}") * F.col(f"sy_{k}")).cast(
            "double"
        )
        vx = (n * F.col(f"sxx_{k}") - F.col(f"sx_{k}") * F.col(f"sx_{k}")).cast(
            "double"
        )
        vy = (n * F.col(f"syy_{k}") - F.col(f"sy_{k}") * F.col(f"sy_{k}")).cast(
            "double"
        )
        return F.when((vx > 0) & (vy > 0), num / (F.sqrt(vx) * F.sqrt(vy)))

    stacked = g.select(
        "symbol",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col(f"n_{k}").alias("n_pairs"),
                        acf(k).alias("acf"),
                    )
                    for k in lags
                ]
            )
        ).alias("__r"),
    )
    return stacked.select(
        "symbol",
        F.col("__r.lag").alias("lag"),
        F.col("__r.n_pairs").alias("n_pairs"),
        F.col("__r.acf").alias("acf"),
    )
