"""The engine's query inventory (SURVEY.md §2) as (Spark plan, DuckDB
oracle SQL) pairs.

Every Spark implementation is a declarative DataFrame plan built from
the operator library; every oracle is independent ANSI SQL over the same
parquet tables.  Numeric policy: money-like 2-dp columns are aggregated
as DECIMAL(18,2)/(18,4) (exact, order-independent) and cast to double at
the end, so both engines produce bit-identical doubles; averages are
computed as exact-sum / count; min/max/count/first/last are exact picks.

``events`` plays the tick stream (user_id ≈ Symbol, ts ≈ Epoch,
value ≈ price; event_id is the deterministic tie-break).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marketstore_spark.catalog import load_table, register_views
from marketstore_spark.functions.finance import simple_returns
from marketstore_spark.operators import uda
from marketstore_spark.operators.adjust import adjust
from marketstore_spark.operators.asof import asof_join
from marketstore_spark.operators.candler import candle_candles, tick_candles
from marketstore_spark.operators.gapfill import gapfill_ffill
from marketstore_spark.plans.query import QueryParams, run_query

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _dec(c: str, scale: int = 2) -> Column:
    return F.col(c).cast(f"decimal(18,{scale})")


# =====================================================================
# Flagship: TPC-H Q1 pricing summary (general DataFrame-service SQL
# surface; SURVEY §2 #27)
# =====================================================================

_Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
       * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@_register("q1_pricing_summary", _Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every aggregate runs in INTEGER CENTS (long), not DECIMAL —
    2.1× faster end-to-end at sf0.1: a (18,2)×(18,2) product is
    decimal(37,4) and even a plain sum's decimal(28,2) accumulator
    leaves the compact-Long representation (Int128 per row — the
    pairwise_corr gotcha).  price·(1−d) in cents·1e2 and ·(1+t) in
    cents·1e4 are exact integers; each output is ONE double division
    by the scale.  Parity contract: DuckDB's DECIMAL→DOUBLE cast is
    itself fl(fl(unscaled)/10^scale) — the IDENTICAL long→double-then-
    divide convention, verified on 7k random unscaled values up to
    2⁶², including above 2⁵³ where neither engine is correctly
    rounded — so the engines agree bit-for-bit all the way to the
    long-sum limit (2⁶³ unscaled ≈ $9·10¹² per group for the e6
    charge, ≈ sf160), where Spark's default ANSI mode fails LOUDLY
    (ARITHMETIC_OVERFLOW) rather than drifting.  The avg chain keeps
    the oracle's association: (sum/scale)/n ≡ CAST(SUM AS DOUBLE)/COUNT."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")
    price_c = F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long")
    disc_c = F.round(F.col("l_discount") * F.lit(100.0)).cast("long")
    tax_c = F.round(F.col("l_tax") * F.lit(100.0)).cast("long")
    disc_e4 = price_c * (F.lit(100) - disc_c)
    charge_e6 = disc_e4 * (F.lit(100) + tax_c)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / F.lit(1e2)).alias("sum_qty"),
            (F.sum(price_c).cast("double") / F.lit(1e2)).alias("sum_base_price"),
            (F.sum(disc_e4).cast("double") / F.lit(1e4)).alias("sum_disc_price"),
            (F.sum(charge_e6).cast("double") / F.lit(1e6)).alias("sum_charge"),
            (F.sum(qty_c).cast("double") / F.lit(1e2) / n).alias("avg_qty"),
            (F.sum(price_c).cast("double") / F.lit(1e2) / n).alias("avg_price"),
            (F.sum(disc_c).cast("double") / F.lit(1e2) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# =====================================================================
# Core query API (frontend/query.go; SURVEY §2 #1-7)
# =====================================================================

_RANGE_START = "2024-01-05 00:00:00"
_RANGE_END = "2024-01-15 00:00:00"


@_register(
    "query_range",
    f"""
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts >= TIMESTAMP '{_RANGE_START}' AND ts <= TIMESTAMP '{_RANGE_END}'
""",
)
def query_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = QueryParams(
        epoch_start=_RANGE_START,
        epoch_end=_RANGE_END,
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    return run_query(ev, p)


@_register(
    "query_limit_tail",
    """
SELECT event_id, ts, user_id, value FROM (
  SELECT event_id, ts, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def query_limit_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = QueryParams(limit_record_count=3, limit_from_start=False,
                    columns=["event_id", "ts", "user_id", "value"])
    return run_query(ev, p)


@_register(
    "query_limit_head",
    """
SELECT event_id, ts, user_id, value FROM (
  SELECT event_id, ts, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def query_limit_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = QueryParams(limit_record_count=3, limit_from_start=True,
                    columns=["event_id", "ts", "user_id", "value"])
    return run_query(ev, p)


@_register("list_symbols", "SELECT DISTINCT user_id AS symbol FROM events")
def list_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(F.col("user_id").alias("symbol")).distinct()


@_register(
    "list_symbols_tbk",
    "SELECT DISTINCT CAST(user_id AS VARCHAR) || '/1Min/TICK' AS tbk FROM events",
)
def list_symbols_tbk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListSymbols with Format='tbk' (frontend/query.go:259-267):
    full Symbol/Timeframe/AttributeGroup names.  The flat test tables
    stand in for a store whose canonical tick bucket is
    ``<symbol>/1Min/TICK`` (Catalog.list_symbols(format='tbk') walks a
    real bucket root via the Hadoop FS — pytest-covered)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.col("user_id").cast("string"), F.lit("/1Min/TICK")).alias("tbk")
    ).distinct()


@_register(
    "get_info",
    """
SELECT user_id, COUNT(*) AS rows_count, MIN(ts) AS min_ts, MAX(ts) AS max_ts
FROM events GROUP BY user_id
""",
)
def get_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("rows_count"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@_register(
    "multi_query",
    f"""
SELECT event_id, ts, user_id, value FROM events
WHERE user_id IN (1, 2, 3)
  AND ts >= TIMESTAMP '{_RANGE_START}' AND ts <= TIMESTAMP '2024-01-10 00:00:00'
UNION ALL
SELECT event_id, ts, user_id, value FROM events
WHERE user_id IN (5, 7)
  AND ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
""",
)
def multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiQueryRequest: independent requests, one result set
    (frontend/query.go:52)."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "value"]
    r1 = run_query(ev, QueryParams(symbols=[1, 2, 3], epoch_start=_RANGE_START,
                                   epoch_end="2024-01-10 00:00:00", columns=cols))
    r2 = run_query(ev, QueryParams(symbols=[5, 7], epoch_start="2024-01-15 00:00:00",
                                   epoch_end="2024-01-20 00:00:00", columns=cols))
    return r1.unionByName(r2)


_SQL_SELECT = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@_register("sql_select", _SQL_SELECT)
def sql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface (sqlparser/): the same statement runs verbatim on
    Spark SQL and on the DuckDB oracle."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SQL_SELECT)


# =====================================================================
# UDAs (uda/*; SURVEY §2 #11-17)
# =====================================================================


@_register("uda_min", "SELECT user_id, MIN(value) AS min_value FROM events GROUP BY user_id")
def uda_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uda.scalar_agg(load_table(spark, sf_dir, "events"), "min", "value")


@_register("uda_max", "SELECT user_id, MAX(value) AS max_value FROM events GROUP BY user_id")
def uda_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uda.scalar_agg(load_table(spark, sf_dir, "events"), "max", "value")


@_register(
    "uda_avg",
    """
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events GROUP BY user_id
""",
)
def uda_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        (F.sum(_dec("value")).cast("double") / F.count("value")).alias("avg_value")
    )


@_register(
    "uda_count",
    "SELECT user_id, COUNT(value) AS count_value FROM events GROUP BY user_id",
)
def uda_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uda.scalar_agg(load_table(spark, sf_dir, "events"), "count", "value")


_GAP_THRESHOLD_S = 86400


@_register(
    "uda_gap",
    f"""
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id, prev_ts, ts AS next_ts,
       (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 AS gap_seconds
FROM g
WHERE prev_ts IS NOT NULL
  AND (epoch_us(ts) - epoch_us(prev_ts)) > {_GAP_THRESHOLD_S * 1_000_000}
""",
)
def uda_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return uda.gap_threshold(ev, _GAP_THRESHOLD_S)


@_register(
    "uda_gap_zscore",
    """
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), d AS (
  SELECT user_id, prev_ts, ts,
         CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) AS gap_us
  FROM g WHERE prev_ts IS NOT NULL
), s AS (
  SELECT user_id, prev_ts, ts, gap_us,
         avg(gap_us) OVER (PARTITION BY user_id) AS m,
         CASE WHEN COALESCE(stddev_samp(gap_us) OVER (PARTITION BY user_id), 0) = 0
              THEN 1.0 ELSE stddev_samp(gap_us) OVER (PARTITION BY user_id) END AS s
  FROM d
)
SELECT user_id, prev_ts, ts AS next_ts, gap_us / 1000000.0 AS gap_seconds,
       ROUND(abs((gap_us - m) / s), 6) AS zscore
FROM s WHERE abs((gap_us - m) / s) > 3.0
""",
)
def uda_gap_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = uda.gap_zscore(ev, 3.0)
    return out.withColumn("zscore", F.round("zscore", 6))


# =====================================================================
# Candlers & rollups (contrib/candler, contrib/ondiskagg; #18-20)
# =====================================================================


def _tick_candle_sql(interval: str) -> str:
    return f"""
SELECT user_id, time_bucket(INTERVAL '{interval}', ts) AS epoch,
       first(value ORDER BY ts, event_id) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS value_avg,
       COUNT(*) AS n
FROM events
GROUP BY user_id, time_bucket(INTERVAL '{interval}', ts)
"""


def _tick_candles_stable(spark: SparkSession, sf_dir: str, tf: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("pv", _dec("value"))
    c = tick_candles(ev, tf, sum_cols=["pv"], include_count=True)
    return c.select(
        "user_id",
        "epoch",
        "open",
        "high",
        "low",
        "close",
        F.col("pv_sum").cast("double").alias("value_sum"),
        (F.col("pv_sum").cast("double") / F.col("n")).alias("value_avg"),
        "n",
    )


@_register("tickcandler", _tick_candle_sql("5 minutes"))
def tickcandler_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tick_candles_stable(spark, sf_dir, "5Min")


@_register("rollup_5min", _tick_candle_sql("5 minutes"))
def rollup_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ondiskagg destination '5Min' (contrib/ondiskagg/aggtrigger:70
    timeframe fan-out), batch path."""
    return _tick_candles_stable(spark, sf_dir, "5Min")


@_register("rollup_1h", _tick_candle_sql("1 hour"))
def rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ondiskagg destination '1H' (contrib/ondiskagg/aggtrigger), batch
    path — the streaming path reuses the same candle plan."""
    return _tick_candles_stable(spark, sf_dir, "1H")


@_register("rollup_1d", _tick_candle_sql("1 day"))
def rollup_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tick_candles_stable(spark, sf_dir, "1D")


@_register("rollup_1w", _tick_candle_sql("7 days"))
def rollup_1w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly candles, Monday-aligned on both engines: Spark windows
    shift 4 days off the Thursday epoch origin; DuckDB's time_bucket
    interval origin is 2000-01-03, a Monday."""
    return _tick_candles_stable(spark, sf_dir, "1W")


@_register(
    "rollup_1mo",
    _tick_candle_sql("1 day").replace(
        "time_bucket(INTERVAL '1 day', ts)", "date_trunc('month', ts)"
    ),
)
def rollup_1mo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month candles (utils/timeframe.go Truncate 'M': bucket
    = first of month — variable length, so date_trunc, not a fixed
    window)."""
    return _tick_candles_stable(spark, sf_dir, "1Mo")


@_register(
    "candlecandler",
    """
WITH c1 AS (
  SELECT user_id, time_bucket(INTERVAL '1 minute', ts) AS m_epoch,
         first(value ORDER BY ts, event_id) AS open,
         MAX(value) AS high, MIN(value) AS low,
         last(value ORDER BY ts, event_id) AS close
  FROM events
  GROUP BY user_id, time_bucket(INTERVAL '1 minute', ts)
)
SELECT user_id, time_bucket(INTERVAL '15 minutes', m_epoch) AS epoch,
       first(open ORDER BY m_epoch) AS open,
       MAX(high) AS high, MIN(low) AS low,
       last(close ORDER BY m_epoch) AS close
FROM c1
GROUP BY user_id, time_bucket(INTERVAL '15 minutes', m_epoch)
""",
)
def candlecandler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """candlecandler('15Min', Open, High, Low, Close): fine candles
    rolled to a coarser timeframe (contrib/candler/candlecandler)."""
    ev = load_table(spark, sf_dir, "events")
    c1 = tick_candles(ev, "1Min")
    return candle_candles(c1, "15Min", key_cols=["user_id"], ts_col="epoch")


# =====================================================================
# Time-series idioms (SURVEY §2 #23-26)
# =====================================================================


@_register(
    "vwap",
    """
SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS epoch,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(props->>'$.k' AS BIGINT)) AS DOUBLE)
         / NULLIF(SUM(CAST(props->>'$.k' AS BIGINT)), 0) AS vwap,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS volume
FROM events
GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
""",
)
def vwap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP per symbol per hour; volume comes from the variable-length
    attribute payload, parsed ONCE into a typed struct
    (models.typed_attrs — executor/readvariable.go's typed read path)
    rather than per-expression get_json_object re-parses."""
    from marketstore_spark.models import typed_attrs

    ev = typed_attrs(load_table(spark, sf_dir, "events"))
    vol = F.col("attrs.k").cast("long")
    # price·volume in integer cents (long) — the q1 fast path; the
    # decimal(18,2)×bigint product would plan as a non-compact decimal.
    # (sum_c/1e2)/vol reproduces the oracle's DECIMAL→DOUBLE-then-divide
    # association bitwise while bucket sums stay < 2^53.
    pv_c = F.round(F.col("value") * F.lit(100.0)).cast("long") * vol
    sum_vol = F.sum(vol)
    return ev.groupBy(
        "user_id", F.window("ts", "1 hour").alias("__w")
    ).agg(
        (F.sum(pv_c).cast("double") / F.lit(1e2)
         / F.when(sum_vol == 0, F.lit(None)).otherwise(sum_vol)).alias("vwap"),
        sum_vol.alias("volume"),
    ).select("user_id", F.col("__w.start").alias("epoch"), "vwap", "volume")


@_register(
    "twap",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(value AS DECIMAL(18,2)) AS px,
         time_bucket(INTERVAL '1 day', ts) AS bstart
  FROM events
),
wt AS (
  SELECT symbol, bstart, px,
         COALESCE(
           LEAD(epoch_us(ts)) OVER (PARTITION BY symbol, bstart ORDER BY ts, event_id),
           epoch_us(bstart + INTERVAL '1 day')
         ) - epoch_us(ts) AS dt
  FROM t
)
SELECT symbol, bstart AS epoch,
       CAST(ROUND(CAST(CAST(
         CAST(SUM(px * dt) AS DOUBLE) / NULLIF(SUM(dt), 0)
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS twap,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM wt GROUP BY 1, 2
""",
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily TWAP per symbol: each tick weighted by integer
    microseconds until the next tick (bucket-end carry for the last) —
    exact decimal·µs sums, one shuffle (operators/quant.twap).
    Reference analogue: the client-side TWAP every marketstore OHLCV
    consumer computes; here it is one declarative plan."""
    from marketstore_spark.operators.quant import twap

    return twap(load_table(spark, sf_dir, "events"), "1 day")


@_register(
    "pairwise_corr",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS close,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, close FROM (
    SELECT symbol, bucket, close,
           row_number() OVER (PARTITION BY symbol, bucket
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM t
  ) WHERE rn = 1
),
g AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, COUNT(*) AS n_obs,
         CAST(SUM(a.close) AS DOUBLE) AS sx, CAST(SUM(b.close) AS DOUBLE) AS sy,
         CAST(SUM(a.close * b.close) AS DOUBLE) AS sxy,
         CAST(SUM(a.close * a.close) AS DOUBLE) AS sxx,
         CAST(SUM(b.close * b.close) AS DOUBLE) AS syy
  FROM c a JOIN c b ON a.bucket = b.bucket AND a.symbol < b.symbol
  GROUP BY 1, 2
)
SELECT sym_a, sym_b, CAST(n_obs AS BIGINT) AS n_obs,
       CAST(ROUND(CAST(CAST(
         (CAST(n_obs AS DOUBLE) * sxy - sx * sy)
           / (SQRT(CAST(n_obs AS DOUBLE) * sxx - sx * sx)
              * SQRT(CAST(n_obs AS DOUBLE) * syy - sy * sy))
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS corr
FROM g
WHERE n_obs >= 3
  AND (CAST(n_obs AS DOUBLE) * sxx - sx * sx) > 0
  AND (CAST(n_obs AS DOUBLE) * syy - sy * sy) > 0
""",
)
def pairwise_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-symbol Pearson correlation of daily closes, computed as
    blocked masked-gram matmuls over integer-cent matrices (the
    formulation that survives 100k symbols; the oracle is the naive
    SQL pair join).  Every Pearson sum is an exact integer in float64,
    so the final engine-identical double expression (IEEE sqrt only)
    hash-matches the oracle.  operators/quant.pairwise_corr."""
    from marketstore_spark.operators.quant import pairwise_corr

    return pairwise_corr(load_table(spark, sf_dir, "events"), "1 day")


@_register(
    "obv",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id, value,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
d AS (
  SELECT symbol, ts, event_id,
         CASE WHEN prev IS NULL THEN 0
              WHEN value > prev THEN vol
              WHEN value < prev THEN -vol
              ELSE 0 END AS delta
  FROM (
    SELECT symbol, ts, event_id, value, vol,
           LAG(value) OVER (PARTITION BY symbol ORDER BY ts, event_id) AS prev
    FROM t
  )
)
SELECT symbol, ts AS epoch, event_id,
       CAST(SUM(delta) OVER (PARTITION BY symbol ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
FROM d
""",
)
def obv_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per tick (operators/quant.obv): direction-
    signed running volume sum, volume from the typed attrs payload.
    Pure BIGINT window arithmetic — order-exact, no rounding
    emulation needed."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import obv

    ev = typed_attrs(load_table(spark, sf_dir, "events"))
    return obv(ev.withColumn("volume", F.col("attrs.k")))


@_register(
    "stochastic_k",
    """
WITH k AS (
  SELECT user_id AS symbol, ts AS epoch, event_id,
         CASE WHEN ROW_NUMBER() OVER w >= 14
                   AND MAX(value) OVER w14 > MIN(value) OVER w14
              THEN 100 * (value - MIN(value) OVER w14)
                   / (MAX(value) OVER w14 - MIN(value) OVER w14)
         END AS pct_k
  FROM events
  WINDOW w   AS (PARTITION BY user_id ORDER BY ts, event_id),
         w14 AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch, event_id, pct_k,
       (pct_k + LAG(pct_k, 1) OVER ws + LAG(pct_k, 2) OVER ws) / 3.0 AS pct_d
FROM k
WINDOW ws AS (PARTITION BY symbol ORDER BY epoch, event_id)
""",
)
def stochastic_k_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-tick stochastic oscillator %K with 3-tick %D
    (operators/quant.stochastic_k).  Exact min/max picks + a
    fixed-order IEEE expression, %D from explicit lags — bit-identical
    across engines with no rounding emulation."""
    from marketstore_spark.operators.quant import stochastic_k

    return stochastic_k(load_table(spark, sf_dir, "events"))


@_register(
    "realized_vol",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS close_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, close_c FROM (
    SELECT symbol, bucket, close_c,
           row_number() OVER (PARTITION BY symbol, bucket
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM t
  ) WHERE rn = 1
),
mv AS (
  SELECT * FROM (
    SELECT symbol, bucket,
           close_c - LAG(close_c) OVER (PARTITION BY symbol ORDER BY bucket) AS mv
    FROM c
  ) WHERE mv IS NOT NULL
),
g AS (
  SELECT symbol, bucket, mv,
         CAST(COUNT(*) OVER wf AS DOUBLE) AS n,
         CAST(SUM(mv) OVER wf AS DOUBLE) AS sx,
         CAST(SUM(mv * mv) OVER wf AS DOUBLE) AS sxx,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM mv
  WINDOW wf AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bucket AS epoch, CAST(mv AS BIGINT) AS mv,
       CAST(ROUND(CAST(CAST(
         CASE WHEN rn >= 20
              THEN SQRT((n * sxx - sx * sx) / (n * (n - 1)))
         END
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS realized_vol
FROM g
""",
)
def realized_vol_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day rolling realized volatility of daily moves
    (operators/quant.realized_vol): exact integer window sums + one
    IEEE sqrt — the bollinger exactness policy applied to moves."""
    from marketstore_spark.operators.quant import realized_vol

    return realized_vol(load_table(spark, sf_dir, "events"))


@_register(
    "beta",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS close_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, close_c FROM (
    SELECT symbol, bucket, close_c,
           row_number() OVER (PARTITION BY symbol, bucket
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM t
  ) WHERE rn = 1
),
mv AS (
  SELECT * FROM (
    SELECT symbol, bucket,
           close_c - LAG(close_c) OVER (PARTITION BY symbol ORDER BY bucket) AS mv
    FROM c
  ) WHERE mv IS NOT NULL
),
mkt AS (SELECT bucket, CAST(SUM(mv) AS BIGINT) AS mkt FROM mv GROUP BY 1),
g AS (
  SELECT symbol, COUNT(*) AS n,
         CAST(SUM(mkt) AS DOUBLE) AS sx, CAST(SUM(mv) AS DOUBLE) AS sy,
         CAST(SUM(mkt * mv) AS DOUBLE) AS sxy,
         CAST(SUM(mkt * mkt) AS DOUBLE) AS sxx
  FROM mv JOIN mkt USING (bucket) GROUP BY 1
)
SELECT symbol, CAST(n AS BIGINT) AS n_obs,
       CAST(ROUND(CAST(CAST(
         (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (CAST(n AS DOUBLE) * sxx - sx * sx)
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS beta
FROM g
WHERE n >= 3 AND (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
""",
)
def beta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol beta of daily moves against the aggregate market
    move (operators/quant.beta_vs_market): integer-cents regression
    sums, one tiny per-bucket market aggregate broadcast back, one
    per-symbol aggregate — linear in symbols, unlike pairwise_corr."""
    from marketstore_spark.operators.quant import beta_vs_market

    return beta_vs_market(load_table(spark, sf_dir, "events"), "1 day")


# Bit-reproducible adjustment oracles: both engines read the SAME
# power-table literals (operators/adjust.ratio_power_table) and compute
# integer CA counts — no exp/ln/pow, whose libm rounding differs across
# engines by an ulp and flips 4-decimal rounding at boundaries (seen at
# sf0.1).  repr() emits shortest-roundtrip doubles; the DECIMAL→DOUBLE
# cast in DuckDB restores the identical bits.  The final ROUND is also
# emulated: Spark rounds the double's shortest decimal repr
# (BigDecimal.valueOf) while DuckDB scales the binary double by 10^n
# first, which can round the other way at boundaries — so the oracle
# goes double→VARCHAR(shortest repr)→DECIMAL→ROUND, bit-matching
# Spark's F.round on positive values.


def _sql_pow_table(ratio: float) -> str:
    from marketstore_spark.operators.adjust import ratio_power_table

    vals = ", ".join(repr(v) for v in ratio_power_table(ratio))
    return f"CAST(list_value({vals}) AS DOUBLE[])"


@_register(
    "uda_adjust",
    f"""
WITH ca AS (
  SELECT user_id, ts FROM events
  WHERE event_type = 'purchase' AND event_id % 97 = 0
), u AS (
  SELECT user_id, ts, value, 0 AS is_ca FROM events
  UNION ALL
  SELECT user_id, ts, NULL AS value, 1 AS is_ca FROM ca
), f AS (
  SELECT user_id, ts, value, is_ca,
         SUM(is_ca) OVER (
           PARTITION BY user_id ORDER BY ts DESC, is_ca ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n05
  FROM u
)
SELECT user_id, ts, value,
       CAST(ROUND(CAST(CAST(
         value * ({_sql_pow_table(0.5)})[CAST(n05 + 1 AS INT)]
       AS VARCHAR) AS DECIMAL(35,16)), 4) AS DOUBLE) AS adjusted
FROM f WHERE is_ca = 0
""",
)
def uda_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corporate-action adjustment (uda/adjust): deterministic synthetic
    CA table = 'purchase' events with event_id % 97 == 0, split ratio
    0.5; prices strictly before each CA get multiplied by the product of
    later ratios, rounded to 4 decimals (adjust.go roundToDecimals)."""
    ev = load_table(spark, sf_dir, "events")
    ca = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("event_id") % 97 == 0))
        .select("user_id", "ts", F.lit(0.5).alias("ratio"))
    )
    return adjust(ev.select("user_id", "ts", "value"), ca, ratios=[0.5])


@_register(
    "asof_join",
    """
SELECT l.event_id, l.ts, l.user_id, l.value, r.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND r.ts <= l.ts
""",
)
def asof_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the user's latest purchase value at
    or before the click (previous-tick lookup; SURVEY §2 #24)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["last_purchase_value"],
    )


@_register(
    "asof_join_tolerance",
    """
SELECT l.event_id, l.ts, l.user_id, l.value,
       CASE WHEN r.ts IS NOT NULL AND l.ts - r.ts <= INTERVAL 1 HOUR
            THEN r.value END AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND r.ts <= l.ts
""",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas merge_asof tolerance
    semantics): a prior purchase older than 1h is no match.  Same
    union+window plan as asof_join — the bound rides the window, no
    extra shuffle."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["last_purchase_value"], tolerance_seconds=3600,
    )


@_register(
    "returns",
    """
SELECT user_id, ts, event_id, value,
       value / NULLIF(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) - 1 AS ret
FROM events
""",
)
def returns_per_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return simple_returns(ev)


@_register(
    "sma",
    """
SELECT user_id, ts, event_id, value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS sma20
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
)
def sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-tick simple moving average per symbol — the charting overlay
    idiom.  Decimal window sum / count keeps the double bit-identical
    across engines (incremental float window aggs are not
    order-stable).  One shuffle on symbol; frame state is 20 rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    return ev.withColumn(
        "sma20",
        F.sum(_dec("value")).over(w).cast("double") / F.count(F.lit(1)).over(w),
    )


@_register(
    "bollinger",
    """
SELECT user_id, ts, event_id,
       CAST(s1 AS DOUBLE) / n AS mid,
       CAST(s1 AS DOUBLE) / n
         + 2.0 * sqrt(greatest(CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0)) AS upper,
       CAST(s1 AS DOUBLE) / n
         - 2.0 * sqrt(greatest(CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0)) AS lower
FROM (
  SELECT user_id, ts, event_id,
         SUM(CAST(value AS DECIMAL(18,2))) OVER w AS s1,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS s2,
         COUNT(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
""",
)
def bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-tick, ±2σ).  Window sums are exact decimal
    (sum, sum-of-squares); the variance leaves decimal only at the
    final double expression, mirrored token-for-token in the oracle so
    the IEEE754 results are bit-identical.  Population σ via
    E[x²]−E[x]², clamped at 0 against rounding."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    v = _dec("value")
    s1 = F.sum(v).over(w).cast("double")
    s2 = F.sum(v * v).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    mid = s1 / n
    std = F.sqrt(F.greatest(s2 / n - mid * mid, F.lit(0.0)))
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        mid.alias("mid"),
        (mid + 2.0 * std).alias("upper"),
        (mid - 2.0 * std).alias("lower"),
    )


@_register(
    "rsi",
    """
SELECT user_id, ts, event_id,
       CASE WHEN cnt < 14 THEN NULL
            WHEN ls = 0 THEN 100.0
            ELSE 100.0 - 100.0 / (1.0 + CAST(gs AS DOUBLE) / CAST(ls AS DOUBLE))
       END AS rsi14
FROM (
  SELECT user_id, ts, event_id,
         SUM(CASE WHEN d > 0 THEN d ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS gs,
         SUM(CASE WHEN d < 0 THEN -d ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS ls,
         COUNT(d) OVER w AS cnt
  FROM (
    SELECT user_id, ts, event_id,
           CAST(value AS DECIMAL(18,2))
             - lag(CAST(value AS DECIMAL(18,2))) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS d
    FROM events
  )
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
""",
)
def rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-tick RSI (simple-average flavor; Wilder's recursive smoothing
    is not order-free, see the streaming gap watcher for stateful
    recursions).  Tick-to-tick deltas and the gain/loss window sums are
    exact decimal; the gain/loss ratio goes double only at the end.
    ls = 0 (no losses in window) maps to RSI 100 — never a division by
    zero (ANSI-safe); rows with fewer than 14 deltas emit NULL."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = wo.rowsBetween(-13, Window.currentRow)
    v = _dec("value")
    d = (v - F.lag(v).over(wo)).alias("d")
    base = ev.select("user_id", "ts", "event_id", d)
    # CASE, not greatest(): DuckDB's greatest() promotes decimals to
    # double, which would make the window sum order-dependent
    zero = F.lit(0).cast("decimal(18,2)")
    gs = F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(zero)).over(w)
    ls = F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(zero)).over(w)
    cnt = F.count("d").over(w)
    return base.select(
        "user_id",
        "ts",
        "event_id",
        F.when(cnt < 14, F.lit(None).cast("double"))
        .when(ls == 0, F.lit(100.0))
        .otherwise(
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + gs.cast("double") / ls.cast("double"))
        )
        .alias("rsi14"),
    )


@_register(
    "drawdown",
    """
SELECT user_id, ts, event_id,
       CAST(runmax AS DOUBLE) AS peak,
       CASE WHEN runmax > 0 THEN
         CAST(CAST(value AS DECIMAL(18,2)) - runmax AS DOUBLE)
           / CAST(runmax AS DOUBLE)
       END AS drawdown
FROM (
  SELECT user_id, ts, event_id, value,
         MAX(CAST(value AS DECIMAL(18,2))) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
  FROM events
)
""",
)
def drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-max drawdown per symbol — the backtesting risk idiom.
    Running peak is an exact decimal max; the relative drop divides in
    double once.  Drawdown is only defined off a positive peak — a
    non-positive running max yields NULL instead of an ANSI
    divide-by-zero abort (peak == 0) or a sign flip (peak < 0)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = _dec("value")
    runmax = F.max(v).over(w)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        runmax.cast("double").alias("peak"),
        F.when(
            runmax > 0, (v - runmax).cast("double") / runmax.cast("double")
        ).alias("drawdown"),
    )


@_register(
    "sessionize",
    """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
GROUP BY user_id, session_id
""",
)
def sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user: one row per session with count
    and bounds.  Integer-microsecond gap math — engine-exact."""
    from marketstore_spark.operators.sessionize import sessionize

    return sessionize(load_table(spark, sf_dir, "events"), gap_seconds=1800)


@_register(
    "session_window",
    """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
GROUP BY user_id, sid
""",
)
def session_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``F.session_window`` grouping (21g's engine
    form, streaming/sessions.py) run in batch — per-(user, session)
    count and bounds.  The two gap contracts agree at every integer-µs
    gap (both break only when gap > window), so the islands-and-gaps
    oracle matches exactly; this upgrades 21g from pytest-only to
    hash-verified driver evidence.  Outputs cast back to the table's
    TIMESTAMP_NTZ convention (value-preserving under the UTC container
    TZ) so the compare sees identical dtypes."""
    from marketstore_spark.streaming.sessions import session_window_agg

    out = session_window_agg(
        load_table(spark, sf_dir, "events"), gap_seconds=1800
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
    )


_FUNNEL_WINDOW_US = 86400 * 1_000_000  # 1 day


@_register(
    "event_funnel",
    f"""
WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et FROM events),
u0 AS (SELECT u, MIN(t) AS t0 FROM e WHERE et = 'view' GROUP BY 1),
u1 AS (SELECT e.u, MIN(t) AS t1 FROM e JOIN u0 USING (u)
       WHERE et = 'click' AND t > t0 AND t <= t0 + {_FUNNEL_WINDOW_US} GROUP BY 1),
u2 AS (SELECT e.u, MIN(t) AS t2 FROM e JOIN u1 USING (u) JOIN u0 USING (u)
       WHERE et = 'purchase' AND t > t1 AND t <= t0 + {_FUNNEL_WINDOW_US} GROUP BY 1)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM u0) AS users
UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM u1)
UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM u2)
""",
)
def event_funnel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel inside a 1-day window
    (greedy earliest chain — the deterministic windowFunnel contract;
    operators/funnel.event_funnel).  One shuffle: the chained step
    times are window mins sharing a single per-user Window spec."""
    from marketstore_spark.operators.funnel import event_funnel

    return event_funnel(
        load_table(spark, sf_dir, "events"),
        steps=["view", "click", "purchase"],
        window_us=_FUNNEL_WINDOW_US,
    )


@_register(
    "retention_cohorts",
    """
WITH a AS (SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events),
c AS (SELECT u, wk, MIN(wk) OVER (PARTITION BY u) AS cohort FROM a),
g AS (SELECT cohort AS cohort_week,
             CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS users
      FROM c GROUP BY 1, 2)
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week, week_offset, users,
       MAX(CASE WHEN week_offset = 0 THEN users END)
         OVER (PARTITION BY cohort_week) AS cohort_size,
       CAST(users AS DOUBLE) / MAX(CASE WHEN week_offset = 0 THEN users END)
         OVER (PARTITION BY cohort_week) AS retained_frac
FROM g
""",
)
def retention_cohorts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/funnel.retention_cohorts):
    the fact table reduces to distinct (user, week) first; cohort size
    attaches as a window max over the aggregated rows — one fact scan.
    The cohort week serializes as an ISO date string (DATE columns
    round-trip differently through the two engines' pandas paths)."""
    from marketstore_spark.operators.funnel import retention_cohorts

    out = retention_cohorts(load_table(spark, sf_dir, "events"))
    return out.withColumn("cohort_week", F.col("cohort_week").cast("string"))


@_register(
    "event_transitions",
    """
WITH o AS (SELECT event_type AS from_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts), event_id) AS to_type
           FROM events),
g AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS transitions
      FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, transitions,
       CAST(transitions AS DOUBLE) / SUM(transitions) OVER (PARTITION BY from_type)
         AS from_share
FROM g
""",
)
def event_transitions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user timeline
    (operators/funnel.event_transitions): one window lead + one hash
    aggregate, output bounded by |event types|²."""
    from marketstore_spark.operators.funnel import event_transitions

    return event_transitions(load_table(spark, sf_dir, "events"))


@_register(
    "event_anomaly",
    """
WITH c AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, day, cnt,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(cnt) OVER w AS BIGINT) AS s,
         CAST(SUM(CAST(cnt AS HUGEINT) * cnt) OVER w AS DECIMAL(38,0)) AS sxx
  FROM c WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type, CAST(day AS VARCHAR) AS day, cnt,
       CAST(n * cnt - s AS DOUBLE)
         / sqrt(CAST(n * sxx - CAST(s AS HUGEINT) * s AS DOUBLE)) AS zscore
FROM st
WHERE n > 1 AND n * sxx - CAST(s AS HUGEINT) * s > 0
  AND abs(CAST(n * cnt - s AS DOUBLE)
          / sqrt(CAST(n * sxx - CAST(s AS HUGEINT) * s AS DOUBLE))) >= 2.0
""",
)
def event_anomaly_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type event-volume outliers at ≥2 population z-scores,
    formed from exact integer moments with one int→double conversion
    per side of a single IEEE sqrt+divide
    (operators/funnel.event_anomaly)."""
    from marketstore_spark.operators.funnel import event_anomaly

    return event_anomaly(load_table(spark, sf_dir, "events"), threshold=2.0)


@_register(
    "event_rfm",
    """
WITH u AS (
  SELECT user_id AS u,
         CAST(date_trunc('day', MAX(ts)) AS DATE) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
anchor AS (SELECT MAX(last_day) AS a FROM u),
scored AS (
  SELECT u, n_events, cents,
         ntile(5) OVER (ORDER BY date_diff('day', last_day, a), u) AS r_score,
         ntile(5) OVER (ORDER BY n_events DESC, u) AS f_score,
         ntile(5) OVER (ORDER BY cents DESC, u) AS m_score
  FROM u CROSS JOIN anchor
)
SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY 1, 2, 3
""",
)
def event_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation (1 = most recent / most active /
    highest spend), anchored on the corpus's own max activity day —
    tie-stable ntile over (metric, user), exact integer cents
    (operators/funnel.rfm_segments)."""
    from marketstore_spark.operators.funnel import rfm_segments

    return rfm_segments(load_table(spark, sf_dir, "events"))


@_register(
    "event_cooccurrence",
    """
WITH e AS (
  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tb, event_type AS et
  FROM events
),
g AS (
  SELECT u, t, tb, et,
         CASE WHEN LAG(t) OVER (PARTITION BY u ORDER BY t, tb) IS NULL
              OR t - LAG(t) OVER (PARTITION BY u ORDER BY t, tb) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT u, et,
         SUM(brk) OVER (PARTITION BY u ORDER BY t, tb
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
st AS (SELECT DISTINCT u, sid, et FROM s),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
       FROM (SELECT DISTINCT u, sid FROM st)),
ta AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
pairs AS (
  SELECT a.et AS type_a, b.et AS type_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM st a JOIN st b ON a.u = b.u AND a.sid = b.sid AND a.et < b.et
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab, ta.n AS n_a, tb.n AS n_b,
       CAST(ns.n_sessions * p.n_ab AS DOUBLE) / CAST(ta.n * tb.n AS DOUBLE) AS lift
FROM pairs p
CROSS JOIN ns
JOIN ta ON ta.et = p.type_a
JOIN ta tb ON tb.et = p.type_b
""",
)
def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain market-basket lift between event types (30-min
    sessions, the sessionize contract): lift = N·n_ab/(n_a·n_b) —
    co-presence at any in-session distance, where the transition
    matrix only sees adjacency (operators/funnel.session_cooccurrence)."""
    from marketstore_spark.operators.funnel import session_cooccurrence

    return session_cooccurrence(load_table(spark, sf_dir, "events"))


@_register(
    "active_users_window",
    """
WITH a AS (SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d
           FROM events),
cov AS (
  SELECT u, unnest([d + CAST(i AS INTEGER) FOR i IN generate_series(0, 6)]) AS wday
  FROM a
),
wau AS (SELECT wday AS day, CAST(COUNT(DISTINCT u) AS BIGINT) AS window_users
        FROM cov GROUP BY 1),
dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau FROM a GROUP BY 1)
SELECT CAST(d.day AS VARCHAR) AS day, d.dau, w.window_users,
       CAST(d.dau AS DOUBLE) / w.window_users AS stickiness
FROM dau d JOIN wau w ON d.day = w.day
""",
)
def active_users_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per observed day
    (operators/funnel.active_users_window).  The trailing window is
    NOT a sliding distinct-count: each distinct (user, day) explodes
    to the 7 days it covers (bounded ×7 on the already-tiny distinct
    set) and the window count becomes a wordcount-shape aggregate."""
    from marketstore_spark.operators.funnel import active_users_window

    return active_users_window(load_table(spark, sf_dir, "events"), window_days=7)


@_register(
    "text_termfreq",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks)
SELECT t.doc_id, t.term, t.tf, d.df, nd.n_docs, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rn
  FROM tf
) t JOIN dft d ON t.term = d.term CROSS JOIN nd
WHERE rn <= 3
""",
)
def text_termfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document with corpus document frequency — the
    integer-exact TF-IDF building block (idf smoothing is left to the
    caller; log flavors differ by engine)."""
    from marketstore_spark.operators.text import term_stats

    out = term_stats(load_table(spark, sf_dir, "documents"), top_k=3)
    return out.withColumn("rank", F.col("rank").cast("long")).withColumn(
        "n_docs", F.col("n_docs").cast("long")
    )


@_register(
    "range_join",
    """
WITH iv AS (
  SELECT event_id AS interval_id, ts AS start_ts,
         ts + INTERVAL 6 HOUR AS end_ts
  FROM events WHERE event_id % 997 = 0
)
SELECT iv.interval_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN iv ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY iv.interval_id
""",
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key): all events falling inside 6-hour
    windows anchored at a deterministic subset of events (so intervals
    live on the same timeline as the points and the join is non-empty
    at every sf).  The time-bucket blocking turns what Catalyst would
    plan as a nested loop into an equi-join on the bucket id
    (operators/rangejoin.py); the oracle is the naive BETWEEN join."""
    from marketstore_spark.operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    iv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 997 == 0)
        .select(
            F.col("event_id").alias("interval_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 6 HOUR")).alias("end_ts"),
        )
    )
    return (
        interval_join(
            ev, iv, ts_col="ts", start_col="start_ts", end_col="end_ts",
            bucket_seconds=21600,
        )
        .groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


@_register(
    "skew_salted_agg",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY event_type
""",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the two-phase salt (functions/skew):
    event_type has a handful of values, so a plain groupBy funnels each
    into one task; the salted plan spreads phase 1 over (key, salt) and
    merges tiny partials in phase 2.  Results are decimal-exact and
    identical to the plain GROUP BY oracle — salting is pure plan
    shape."""
    from marketstore_spark.functions.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n": F.count(F.lit(1)),
            "s": F.sum(_dec("value")),
            "mn": F.min("value"),
            "mx": F.max("value"),
        },
        {
            "n_events": F.sum("n"),
            "total_value": F.sum("s").cast("double"),
            "min_value": F.min("mn"),
            "max_value": F.max("mx"),
            "avg_value": (F.sum("s").cast("double") / F.sum("n")),
        },
    )


@_register(
    "percentiles",
    """
SELECT user_id, quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95, quantile_cont(value, 0.99) AS p99
FROM events GROUP BY user_id
""",
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-symbol value percentiles (linear interpolation — both
    engines use (1−g)·a + g·b on the sorted run, so doubles match
    bitwise).  Exact percentile materializes each group: fine per
    symbol-day, see `percentiles_approx` for the corpus-scale path."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@_register("percentiles_approx")  # sketch-based: rows-only; error bound in pytest
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass mergeable percentile sketch
    (``approx_percentile``, Greenwald-Khanna) — the 100 TB path: no
    per-group sort/materialization, partial sketches merge map-side,
    accuracy set by the last argument (relative rank error 1/10000)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("p95"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("p99"),
    )


@_register(
    "percentiles_approx_exhaustive",
    """
SELECT user_id, quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.95) AS p95, quantile_disc(value, 0.99) AS p99
FROM events GROUP BY user_id
""",
)
def percentiles_approx_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GK sketch driven past its exactness threshold: with
    accuracy ≥ group row count the rank error bound εn drops below
    one rank, so ``approx_percentile`` returns the exact discrete
    quantile and the ``quantile_disc`` oracle hash-verifies the whole
    sketch path (build, merge, query).  The production accuracy
    (percentiles_approx) stays error-bound-pinned in pytest."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr("approx_percentile(value, 0.5, 10000000)").alias("p50"),
        F.expr("approx_percentile(value, 0.95, 10000000)").alias("p95"),
        F.expr("approx_percentile(value, 0.99, 10000000)").alias("p99"),
    )


def _ema_sql(span: int = 20) -> str:
    """EMA as a DuckDB recursive CTE.  The step expression
    ``alpha*x + (1-alpha)*prev`` is the same two-multiply-one-add
    float64 sequence pandas' ewm(adjust=False) kernel evaluates (its
    normalizing divide is by exactly 1.0), so the engines agree
    bitwise.  alpha is pasted as the Python float repr both sides."""
    # Build the coefficients ARITHMETICALLY: DuckDB routes decimal
    # literals through DECIMAL and its decimal→double conversion can
    # land one ulp off the Python float (observed for 2/21), which
    # then flips every step of the recurrence.  Integer casts are
    # exact and IEEE division/subtraction round identically in both
    # engines, so these expressions reproduce Python's
    # ``2.0/(span+1)`` / ``1.0 - alpha`` bitwise.
    a = f"(CAST(2 AS DOUBLE) / CAST({span + 1} AS DOUBLE))"
    b = f"(CAST(1 AS DOUBLE) - {a})"
    return f"""
WITH RECURSIVE
ev AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r(user_id, ts, event_id, value, rn, ema) AS (
  SELECT user_id, ts, event_id, value, rn, value AS ema FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.ts, e.event_id, e.value, e.rn,
         {a} * e.value + {b} * r.ema AS ema
  FROM ev e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, ts, event_id, value, ema FROM r
"""


@_register("ema", _ema_sql())
def ema_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-tick EMA per symbol via the partition-streaming mapInPandas
    fold (linear recurrence — no window frame expresses it).  Oracle:
    recursive CTE replaying the identical float64 recurrence (see
    _ema_sql)."""
    from marketstore_spark.operators.ewm import ema

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return ema(ev, span=20)


def _macd_sql(fast: int = 12, slow: int = 26, signal: int = 9) -> str:
    """MACD as ONE recursive CTE carrying three accumulators (fast
    EMA, slow EMA, signal EMA) — the _ema_sql coefficient policy
    (arithmetic construction, never float literals) applied to the
    coupled recurrences."""

    def coeffs(span: int) -> tuple[str, str]:
        a = f"(CAST(2 AS DOUBLE) / CAST({span + 1} AS DOUBLE))"
        return a, f"(CAST(1 AS DOUBLE) - {a})"

    af, bf = coeffs(fast)
    as_, bs = coeffs(slow)
    ag, bg = coeffs(signal)
    return f"""
WITH RECURSIVE
ev AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r(user_id, ts, event_id, value, rn, ef, es, line, sig) AS (
  SELECT user_id, ts, event_id, value, rn,
         value AS ef, value AS es,
         value - value AS line, value - value AS sig
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.ts, e.event_id, e.value, e.rn,
         {af} * e.value + {bf} * r.ef,
         {as_} * e.value + {bs} * r.es,
         ({af} * e.value + {bf} * r.ef) - ({as_} * e.value + {bs} * r.es),
         {ag} * (({af} * e.value + {bf} * r.ef) - ({as_} * e.value + {bs} * r.es))
           + {bg} * r.sig
  FROM ev e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, ts, event_id, value,
       line AS macd, sig AS signal, line - sig AS histogram
FROM r
"""


@_register("macd", _macd_sql())
def macd_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) per symbol — three coupled EMA recurrences in one
    partition-streaming mapInPandas pass (operators/ewm.macd); oracle
    replays the identical float64 step chain in a single recursive
    CTE."""
    from marketstore_spark.operators.ewm import macd

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return macd(ev)


# =====================================================================
# General SQL surface: TPC-H-style joins (SURVEY §2 #28-29)
# =====================================================================


@_register(
    "q3_shipping_priority",
    """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg; the customer dim is broadcast (at 100 TB the
    orders⋈lineitem join co-partitions on orderkey)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-30 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-30 00:00:00").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@_register(
    "q5_local_supplier",
    """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join with broadcast dims (supplier/nation/region tiny →
    broadcast; fact joins shuffle on their keys)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_register(
    "q6_forecast_revenue",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "q10_returned_items",
    """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer.
    nation broadcasts; customer⋈orders and orders⋈lineitem shuffle on
    their keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@_register(
    "q18_large_volume_customer",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate
""",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold (HAVING subquery).  The canonical SQL scans lineitem
    twice — once for the HAVING keylist, once for the outer SUM — but
    the outer sum of a kept order IS the inner per-order sum (the
    final grouping key contains the order key), so one aggregation
    serves both: aggregate lineitem once, filter > 150, and join only
    the surviving orders up to the orders/customer dims.  The fact
    shuffles exactly once, on its own join key; no static broadcast
    hint on the filtered set — it GROWS with the fact (2.9k keys at
    sf0.1, ~3M at sf100), so forcing a broadcast is an OOM at scale
    while AQE may still pick one at runtime when it's actually small.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * F.lit(100.0)).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_c).alias("q_c"))  # integer cents — the q1 fast path
        .filter(F.col("q_c") > 150 * 100)  # exact: q > 150 ⟺ cents > 15000
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.col("q_c").cast("double") / F.lit(1e2)).alias("total_qty"),
        )
    )


@_register(
    "q4_late_orders",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
""",
)
def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → semi join): orders with at least one
    line shipped ≥90 days after order date, counted per priority.
    (Adapted predicate: this dataset has no l_commitdate/l_receiptdate,
    so "late" is shipdate vs orderdate.)  The EXISTS is a left-semi
    join on the order key — one shuffle each side, no dedup needed, and
    the correlated date predicate rides the join condition."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_register(
    "q12_priority_lines",
    """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts after a fact-fact join.
    (Adapted: grouped by l_linestatus since this dataset has no
    l_shipmode.)  The shipdate range filter is pushed to the lineitem
    scan; the CASE sums fold into one aggregate pass."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q14_promo_revenue",
    """
SELECT CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
            THEN CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share for one month.  part is a
    dim → broadcast; the month filter prunes lineitem at the scan, so
    the join input is ~1/84 of the fact.  Both sums are exact decimal,
    divided once at the end in double (identical expression order in
    the oracle)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        (
            (F.lit(100.00) * F.sum(promo)).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue")
    )


@_register(
    "q19_discounted_revenue",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicates over
    a part⋈lineitem join.  (Adapted: no p_container/l_shipmode in this
    dataset.)  Catalyst extracts the common part-side conjuncts
    (brand ∈ {...}, size ≥ 1) below the broadcast join, so the OR does
    not force a full-dim probe."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        j.filter(arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20) | arm("Brand#34", 15, 20, 30))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_register(
    "q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l.l_shipdate) AS l_year,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_nationkey % 2 = 0 AND n2.n_nationkey % 2 = 1)
      OR (n1.n_nationkey % 2 = 1 AND n2.n_nationkey % 2 = 0))
    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31 23:59:59'
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume by year — a 6-way join
    where the disjunctive nation-pair predicate sits ABOVE two
    broadcast dim joins; facts join facts on their natural keys."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("n1k"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("n2k"), F.col("n_name").alias("cust_nation")))
    vol = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,4)")
    # pair predicate on key parity (a literal nation pair is empty at
    # tiny sf — only 10 suppliers exist at sf0.001); same disjunctive
    # two-dim shape as the original FRANCE/GERMANY filter
    pair = (
        ((F.col("n1k") % 2 == 0) & (F.col("n2k") % 2 == 1))
        | ((F.col("n1k") % 2 == 1) & (F.col("n2k") % 2 == 0))
    )
    return (
        li.filter(
            F.col("l_shipdate").between("1996-01-01", "1997-12-31 23:59:59")
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("n1k"))
        .join(n2, F.col("c_nationkey") == F.col("n2k"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


@_register(
    "q8_market_share",
    """
SELECT o_year, CAST(CAST(SUM(nat_volume) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume,
         CASE WHEN n2.n_name = 'NATION_3'
              THEN CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
              ELSE CAST(0 AS DECIMAL(18,4)) END AS nat_volume
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31 23:59:59'
)
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's part-type trade
    per year — 8-way join, conditional decimal aggregation (CASE keeps
    DECIMAL; the ratio is the single final double division)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1k"), F.col("n_regionkey").alias("n1r"))
    n2 = n.select(F.col("n_nationkey").alias("n2k"), F.col("n_name").alias("supp_nation"))
    vol = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,4)")
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate").between("1995-01-01", "1996-12-31 23:59:59"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1k"))
        .join(F.broadcast(r), F.col("n1r") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2k"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")).alias("mkt_share")
        )
    )


@_register(
    "q13_customer_distribution",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count histogram over a LEFT OUTER join
    with a predicate on the preserved side's partner (customers with
    zero qualifying orders must survive into the c_count=0 bin)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "q17_small_quantity",
    """
WITH pa AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND p.p_size <= 10
  AND CAST(5 AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2)) * pa.n < pa.s
""",
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity orders vs the per-part average —
    the correlated AVG subquery becomes a self-agg join, and the
    ``qty < 0.2·avg`` comparison is rearranged to the exact integer/
    decimal form ``5·qty·n < sum`` so no engine-specific double
    average sits on the decision boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
    )
    pa = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(_dec("l_quantity")).alias("s")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == F.col("pa_key"))
        .filter(
            F.lit(5).cast("decimal(18,2)") * _dec("l_quantity") * F.col("n") < F.col("s")
        )
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


@_register(
    "q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: quarterly revenue view → supplier(s) at the maximum.
    Revenue aggregates exact-decimal per supplier (one shuffle on
    l_suppkey); the scalar-max subquery becomes a broadcast of the
    one-row max joined back on DECIMAL equality (exact — no double
    ties), and the supplier dim broadcasts onto the handful of
    winners.  The quarter filter is pushed to the lineitem scan.
    Revenue sums integer cents·1e2 (long — the q1 fast path; exact and
    compact), so the max-equality join compares exact integers and the
    one double division per winner reproduces the oracle's
    DECIMAL→DOUBLE cast bitwise."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-10-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    price_c = F.round(F.col("l_extendedprice") * F.lit(100.0)).cast("long")
    disc_c = F.round(F.col("l_discount") * F.lit(100.0)).cast("long")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(price_c * (F.lit(100) - disc_c)).alias("rev_e4")
    )
    mx = rev.agg(F.max("rev_e4").alias("__mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.rev_e4 == F.col("__mx"))
        .join(F.broadcast(s), rev.supplier_no == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_e4").cast("double") / F.lit(1e4)).alias("total_revenue"),
        )
    )


@_register(
    "q21_suppliers_who_kept_orders_waiting",
    """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
),
multi AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1
  HAVING COUNT(DISTINCT l_suppkey) >= 2
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) w
JOIN multi m ON w.l_orderkey = m.l_orderkey
JOIN supplier s ON s.s_suppkey = w.l_suppkey
WHERE NOT EXISTS (
  SELECT 1 FROM late x
  WHERE x.l_orderkey = w.l_orderkey AND x.l_suppkey <> w.l_suppkey
)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
)
def q21_suppliers_who_kept_orders_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS): suppliers solely
    responsible for lateness in multi-supplier finished orders.
    (Adapted lateness: shipdate > orderdate + 60 days — this dataset
    has no commit/receipt dates, same proxy as q4.)

    Both quantifiers collapse into ONE per-order aggregation: an order
    qualifies for supplier s iff s is late in it, the distinct late
    suppliers number exactly 1 (NOT EXISTS another late supplier), and
    the distinct suppliers number ≥ 2 (EXISTS another supplier).  The
    lineitem-orders join shuffles on the order key and the groupBy
    REUSES that partitioning — one fact scan, one fact shuffle, no
    late-set distinct, no anti self-join (the prior formulation paid
    three more fact-sized shuffles).  The sole late supplier is
    recovered as max(late suppkey), exact because the qualifier pins
    the distinct count to 1.  Top-20 is TakeOrderedAndProject."""
    # The status predicate is an ORDER property — apply it before the
    # join (pushed to the orders scan) so no string column rides
    # through the aggregation (a string aggregate buffer would demote
    # both levels to SortAggregate).
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    is_late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"), 1
    ).otherwise(0)
    # Two-level aggregation instead of count_distinct×2: multiple
    # distinct aggregates plan an Expand (3× fact-row blowup through
    # the shuffle).  All buffers are primitive, so both levels are
    # partial-aggregated HashAggregates; level 2 groups on a prefix of
    # level 1's key, so only the first aggregation exchanges.
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(is_late).alias("__late"))
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__ns"),
            F.sum("__late").alias("__nlate"),
            F.max(F.when(F.col("__late") == 1, F.col("l_suppkey"))).alias("__late_supp"),
        )
        .filter((F.col("__ns") >= 2) & (F.col("__nlate") == 1))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(s), per_order.__late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@_register(
    "q2_min_cost_supplier",
    """
WITH offers AS (
  SELECT l.l_partkey, l.l_suppkey, s.s_name, s.s_acctbal, n.n_name,
         MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5
),
minc AS (SELECT l_partkey, MIN(cost) AS min_cost FROM offers GROUP BY 1)
SELECT CAST(o.s_acctbal AS DOUBLE) AS s_acctbal, o.s_name, o.n_name,
       p.p_partkey, p.p_name, CAST(o.cost AS DOUBLE) AS supply_cost
FROM offers o
JOIN minc m ON o.l_partkey = m.l_partkey AND o.cost = m.min_cost
JOIN part p ON p.p_partkey = o.l_partkey
WHERE p.p_size = 15
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated MIN subquery → per-group minimum
    joined back on exact-decimal equality): cheapest regional supplier
    per part.  (Adapted cost: this dataset has no partsupp, so an
    offer's cost is the supplier's minimum extended price for the part
    — same correlated-minimum plan.)  Dims broadcast onto the fact
    scan; the per-part min is one extra aggregation over the already
    co-partitioned offers (no second fact shuffle); top-100 is
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # The part predicate prunes the FACT before any aggregation: p_size
    # selects ~1/50 of parts, so the offers groupBy (and everything
    # after) runs on the pruned stream — at 100 TB this is the
    # difference between aggregating the whole lineitem table and 2% of
    # it.  p_name rides along as a (functionally dependent) group key,
    # so no re-join with part is needed at the end.
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    offers = (
        li.join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(eu_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "l_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(_dec("l_extendedprice")).alias("cost"))
    )
    minc = offers.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        offers.join(
            minc,
            (offers.p_partkey == F.col("__pk")) & (offers.cost == F.col("min_cost")),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@_register(
    "q9_product_type_profit",
    """
SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                - CAST(l.l_quantity AS DECIMAL(9,2))
                  * CAST(p.p_retailprice AS DECIMAL(9,2))
                  * CAST(0.5 AS DECIMAL(2,1))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
""",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation × order year over a
    part-name filter): part/supplier/nation dims broadcast onto the
    lineitem scan — the name filter prunes the fact through the
    broadcast hash — and the only big-big join is lineitem⋈orders on
    the order key, one shuffle each side.  (Adapted cost: no
    ps_supplycost here, so cost is half retail price — exact decimals
    end to end.)"""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
        - F.col("l_quantity").cast("decimal(9,2)")
        * F.col("p_retailprice").cast("decimal(9,2)")
        * F.lit(0.5).cast("decimal(2,1)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@_register(
    "q11_important_stock",
    """
WITH val AS (
  SELECT l.l_partkey AS ps_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'AMERICA'
  GROUP BY 1
),
tot AS (SELECT SUM(v) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM val)
SELECT ps_partkey, CAST(v AS DOUBLE) AS part_value
FROM val, tot
WHERE v * n > t * 2
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (group value vs. a global-total scalar): parts
    whose single-region supply value exceeds a threshold derived from
    the whole corpus (region scope rather than the canonical single
    nation: the smallest test fixture has nations with zero suppliers,
    which would make a nation-scoped result vacuously empty).  The
    scalar total is a one-row broadcast
    crossJoin (never a recompute of the aggregate).  The canonical
    fraction is spec-scaled by 1/SF; with SF unknown at plan time the
    equivalent scale-invariant form is value > 2 × mean part value,
    and the comparison is cross-multiplied (v·n > 2·t) so both sides
    stay in exact integer×decimal arithmetic — no mean division, no
    boundary row can flip.  (Adapted value: extended price from
    lineitem stands in for availqty × supplycost.)"""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum(_dec("l_extendedprice")).alias("v"))
    )
    tot = val.agg(
        F.sum("v").alias("t"), F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * F.col("n") > F.col("t") * F.lit(2))
        .select("ps_partkey", F.col("v").cast("double").alias("part_value"))
    )


@_register(
    "q16_parts_supplier",
    """
WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (
  SELECT rel.l_partkey, rel.l_suppkey FROM rel
  WHERE rel.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ok JOIN part p ON p.p_partkey = ok.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'ECONOMY'
  AND p.p_size IN (1, 5, 11, 17, 23, 29, 35, 41, 47)
GROUP BY 1, 2, 3
""",
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (NOT IN → left-anti join + distinct-supplier
    count per part group): how many distinct eligible suppliers offer
    each (brand, type, size) bucket.  The complaint exclusion (adapted:
    negative account balance) is a broadcast anti-join — never a
    per-row subquery — and the part dim broadcasts onto the distinct
    part-supplier relation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    rel = li.distinct()
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    ok = rel.join(
        F.broadcast(bad), rel.l_suppkey == bad.s_suppkey, "left_anti"
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 5, 11, 17, 23, 29, 35, 41, 47)
    )
    return (
        ok.join(F.broadcast(p), ok.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "q20_potential_promotion",
    """
WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
q97 AS (
  SELECT l_suppkey, l_partkey, CAST(SUM(l_quantity) AS DOUBLE) AS qty97
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
),
qall AS (
  SELECT l_suppkey, l_partkey, CAST(SUM(l_quantity) AS DOUBLE) AS qtyall
  FROM lineitem GROUP BY 1, 2
),
hot AS (
  SELECT DISTINCT q97.l_suppkey
  FROM q97
  JOIN qall ON q97.l_suppkey = qall.l_suppkey AND q97.l_partkey = qall.l_partkey
  JOIN pp ON pp.p_partkey = q97.l_partkey
  WHERE q97.qty97 > 0.5 * qall.qtyall
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN hot ON hot.l_suppkey = s.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE'
""",
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested IN subqueries → derived per-group
    thresholds, then semi-joins up to the supplier dim): regional
    suppliers whose 1997 shipments of a part-name family exceeded half
    their all-time shipments of it.  Both aggregates group on the same
    (suppkey, partkey) key, so the threshold join is co-partitioned —
    one shuffle pays for both sides; quantities are integer-valued, so
    the double sums compare exactly.  (Adapted: no ps_availqty; the
    all-time quantity is the stock stand-in.)"""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    pp = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    q97 = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("double").alias("qty97"))
    )
    qall = li.groupBy(
        F.col("l_suppkey").alias("__sk"), F.col("l_partkey").alias("__pk")
    ).agg(F.sum("l_quantity").cast("double").alias("qtyall"))
    hot = (
        q97.join(
            qall,
            (q97.l_suppkey == F.col("__sk")) & (q97.l_partkey == F.col("__pk")),
        )
        .join(F.broadcast(pp), q97.l_partkey == pp.p_partkey)
        .filter(F.col("qty97") > F.lit(0.5) * F.col("qtyall"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(hot, s.s_suppkey == hot.l_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )


@_register(
    "q22_sales_opportunity",
    """
WITH pos AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s
  FROM customer WHERE c_acctbal > 0
)
SELECT n.n_name AS cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * (SELECT n FROM pos) > (SELECT s FROM pos)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY n.n_name
""",
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, by nation — scalar aggregate subquery (broadcast) + anti
    join.  The ``bal > avg`` test is the exact cross-multiplied form
    ``bal·n > sum`` (no double average on the boundary); the reference
    schema has no phone column, so 'recent orders' stands in for the
    original's country-prefix filter."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("pos_n"), F.sum(_dec("c_acctbal")).alias("pos_s")
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("pos_n") > F.col("pos_s"))
        .join(o.select(F.col("o_custkey").alias("__ok")).distinct(),
              F.col("c_custkey") == F.col("__ok"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@_register(
    "top_symbols",
    """
SELECT user_id, total_value, CAST(rn AS BIGINT) AS rank FROM (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         row_number() OVER (
           ORDER BY CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) DESC, user_id
         ) AS rn
  FROM events GROUP BY user_id
) WHERE rn <= 5
""",
)
def top_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N symbols by turnover.  The prune comes FIRST:
    ``orderBy().limit(5)`` compiles to TakeOrderedAndProject
    (per-partition top-5, driver merge — no single-partition shuffle of
    the full symbol table), and only the surviving 5 rows pay the
    unpartitioned rank window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.sum(_dec("value")).cast("double").alias("total_value")
    )
    order = [F.col("total_value").desc(), F.col("user_id").asc()]
    top = agg.orderBy(*order).limit(5)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


# =====================================================================
# LLM-data-pipeline: text analysis (SURVEY §2 #37-40)
# =====================================================================

_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


@_register(
    "text_tokens",
    f"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_tokens_bpe
FROM documents
""",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.text import token_counts

    out = token_counts(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
    )


@_register(
    "text_quality",
    """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_words,
       length(text) * 1.0 / NULLIF(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS avg_word_len,
       len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / NULLIF(length(text), 0) AS punct_ratio,
       len(regexp_extract_all(text, '[0-9]')) * 1.0 / NULLIF(length(text), 0) AS digit_ratio,
       len(regexp_extract_all(lower(text), '\\b(?:the|and|is|of|to|in)\\b')) * 1.0
         / NULLIF(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS stopword_ratio
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.text import quality_features

    out = quality_features(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        "avg_word_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
    )


def _langid_sql() -> str:
    from marketstore_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    counts = ",\n         ".join(
        f"len(regexp_extract_all(lower(text), '\\b(?:{'|'.join(LANG_MARKERS[lg])})\\b')) AS {lg}"
        for lg in langs
    )
    # argmax with alphabetical tie-break: first lang in order that is >=
    # all later ones wins.
    case_lines = []
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"{lg} >= {other}" for other in langs[i + 1 :])
        case_lines.append(f"WHEN {conds} THEN '{lg}'")
    case_sql = "\n           ".join(case_lines)
    return f"""
WITH c AS (
  SELECT doc_id,
         {counts}
  FROM documents
)
SELECT doc_id,
       CASE {case_sql}
            ELSE '{langs[-1]}' END AS predicted_lang,
       CAST(greatest({', '.join(langs)}) AS BIGINT) AS best_score
FROM c
"""


@_register("text_langid", _langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.text import langid

    out = langid(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "predicted_lang", F.col("best_score").cast("long").alias("best_score")
    )


@_register(
    "text_fingerprint",
    """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
       CAST(length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS BIGINT) AS fp_len
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.text import fingerprint

    out = fingerprint(load_table(spark, sf_dir, "documents"))
    return out.select("doc_id", "fp_md5", F.col("fp_len").cast("long").alias("fp_len"))


def _pipeline_sql() -> str:
    from marketstore_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    counts = ",\n         ".join(
        f"len(regexp_extract_all(lower(text), '\\b(?:{'|'.join(LANG_MARKERS[lg])})\\b')) AS {lg}"
        for lg in langs
    )
    case_lines = []
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"{lg} >= {other}" for other in langs[i + 1 :])
        case_lines.append(f"WHEN {conds} THEN '{lg}'")
    case_sql = "\n           ".join(case_lines)
    return f"""
WITH f AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
         len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
           / NULLIF(length(text), 0) AS punct_ratio,
         {counts}
  FROM documents
), lab AS (
  SELECT *, CASE {case_sql} ELSE '{langs[-1]}' END AS predicted_lang,
         MIN(doc_id) OVER (PARTITION BY fp_md5) AS keep_id
  FROM f
)
SELECT doc_id, predicted_lang, CAST(n_words AS BIGINT) AS n_words
FROM lab
WHERE doc_id = keep_id AND n_words >= 5 AND punct_ratio < 0.2
"""


@_register(
    "corpus_stats",
    """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
         AS total_tokens,
       MIN(doc_id) AS first_doc
FROM documents GROUP BY lang, source
""",
)
def corpus_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus summary: the single-scan rollup a
    pipeline consults before sampling/training."""
    from marketstore_spark.operators.text import corpus_stats

    return corpus_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_pii_scrub",
    r"""
WITH t AS (
  SELECT doc_id,
         'doc ' || doc_id || ' contact user' || doc_id || '@mail'
         || (doc_id % 7) || '.example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' cc admin' || doc_id || '@ex.org' ELSE '' END
         || ', call (55' || (doc_id % 10) || ') 01' || (doc_id % 10)
         || ' 1234 or host 10.' || (doc_id % 200) || '.'
         || (doc_id % 250) || '.9 done' AS text
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(
           text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
         )) AS BIGINT) AS n_email,
         regexp_replace(
           text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           '|||EMAIL|||', 'g') AS text
  FROM t
),
p AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(
           text, '\(\d{3}\) \d{3} \d{4}')) AS BIGINT) AS n_phone,
         regexp_replace(text, '\(\d{3}\) \d{3} \d{4}',
                        '|||PHONE|||', 'g') AS text
  FROM e
),
i AS (
  SELECT doc_id, n_email, n_phone,
         CAST(len(regexp_extract_all(
           text, '(\d{1,3}\.){3}\d{1,3}')) AS BIGINT) AS n_ipv4,
         regexp_replace(text, '(\d{1,3}\.){3}\d{1,3}',
                        '|||IPV4|||', 'g') AS text
  FROM p
)
SELECT doc_id, text, n_email, n_phone, n_ipv4 FROM i
""",
)
def corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/C4-style PII masking (operators/text.scrub_pii), driver-
    verified: the synthetic corpus carries no PII by construction, so
    the key INJECTS deterministic email/phone/IPv4 spans (pure doc_id
    arithmetic — no accidental-match risk from corpus words) and runs
    the REAL production patterns over them — progressive per-class
    masking, counts on the already-masked value.  The production
    phone/IPv4 patterns use Java-regex lookarounds RE2 lacks, so the
    DuckDB oracle replays input-equivalent RE2 patterns: on this
    controlled input both match exactly the injected spans, pinning
    the operator's masked TEXT and counts byte-for-byte.  One narrow
    whole-stage-codegen projection, no shuffle — scales as a plain
    scan at 100 TB (the c4_clean / gopher_rules shape)."""
    from marketstore_spark.operators.text import scrub_pii

    d = F.col("doc_id")

    def s(x):  # noqa: ANN001 — tiny concat helper
        return x.cast("string")

    injected = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("doc "), s(d), F.lit(" contact user"), s(d),
            F.lit("@mail"), s(d % 7), F.lit(".example.com"),
            F.when(d % 3 == 0,
                   F.concat(F.lit(" cc admin"), s(d), F.lit("@ex.org"))
                   ).otherwise(F.lit("")),
            F.lit(", call (55"), s(d % 10), F.lit(") 01"), s(d % 10),
            F.lit(" 1234 or host 10."), s(d % 200), F.lit("."),
            s(d % 250), F.lit(".9 done"),
        ).alias("text"),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id", "text",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
    )


@_register("corpus_filter_pipeline", _pipeline_sql())
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning: exact-dedup (keep the
    lowest doc_id per content fingerprint) + quality gate (≥5 words,
    punctuation ratio < 0.2) + language label — the standard first
    pass of a pretraining data pipeline.  One scan computes every
    feature (operators/text.py document_features); the only shuffle is
    the fingerprint window for the dedup keep-list."""
    from pyspark.sql import Window

    from marketstore_spark.operators.text import document_features

    feats = document_features(load_table(spark, sf_dir, "documents"))
    keep = F.min("doc_id").over(Window.partitionBy("fp_md5"))
    return (
        feats.withColumn("__keep", keep)
        .filter(
            (F.col("doc_id") == F.col("__keep"))
            & (F.col("n_words") >= 5)
            & (F.col("punct_ratio") < 0.2)
        )
        .select("doc_id", "predicted_lang", F.col("n_words").cast("long").alias("n_words"))
    )


@_register(
    "text_repetition",
    """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents WHERE trim(text) <> ''
),
hof AS (
  SELECT doc_id,
         len(words) AS n_words,
         len(list_distinct(words)) AS uw,
         len(words) - 1 AS ng,
         len(list_distinct(list_transform(range(len(words) - 1),
             i -> words[i+1] || ' ' || words[i+2]))) AS ug
  FROM w
),
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
wc AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY 1, 2),
md AS (SELECT doc_id, MAX(c) AS top FROM wc GROUP BY 1)
SELECT h.doc_id,
       CAST(h.n_words AS BIGINT) AS n_words,
       CAST(ROUND(CAST(CAST(1.0 - h.uw / CAST(h.n_words AS DOUBLE) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS dup_word_frac,
       CAST(ROUND(CAST(CAST(md.top / CAST(h.n_words AS DOUBLE) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS top_word_frac,
       CASE WHEN h.ng > 0 THEN
         CAST(ROUND(CAST(CAST(1.0 - h.ug / CAST(h.ng AS DOUBLE) AS VARCHAR)
              AS DECIMAL(35,16)), 6) AS DOUBLE)
       END AS dup_2gram_frac
FROM hof h JOIN md ON h.doc_id = md.doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-word /
    top-word / duplicate-2-gram fractions) per document — the published
    repetition-filter family a pretraining pipeline runs corpus-wide.
    Distinct counts are per-row HOFs; the word mode is the only
    shuffle.  (Oracle emulates Spark's shortest-repr double rounding.)"""
    from marketstore_spark.operators.text import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_decontaminate",
    """
WITH w AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE trim(text) <> ''
),
sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(words[i+1:i+8], ' ') AS shingle
  FROM (SELECT doc_id, source, words, unnest(range(len(words) - 7)) AS i
        FROM w WHERE len(words) >= 8)
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
cand AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0')
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM cand c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
""",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: corpus docs (source != 'src0')
    sharing any word 8-gram with the benchmark set (source == 'src0'
    stands in for an eval suite), with the distinct-overlap count.
    The benchmark shingle set broadcasts; corpus shingles never
    shuffle (operators/dedup.benchmark_overlap)."""
    from marketstore_spark.operators.dedup import benchmark_overlap

    docs = load_table(spark, sf_dir, "documents")
    return benchmark_overlap(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    )


@_register(
    "corpus_sample",
    """
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 2) < '33'
""",
)
def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold sampling (~51/256 ≈ 20%): the
    reproducible-subset idiom for 100 TB pipelines — a pure md5 filter,
    engine-portable (the oracle applies the identical predicate), no
    RNG state, no shuffle (operators/sampling.hash_sample)."""
    from marketstore_spark.operators.sampling import hash_sample

    return hash_sample(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source"
    )


@_register(
    "distinct_users",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""",
)
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct-user counts — the exactness anchor for
    distinct_users_approx (same grouping, HLL++ replaced by the exact
    aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register("distinct_users_approx")
def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct users via Spark's native HLL++ sketch
    (approx_count_distinct, rsd=2%) — the mergeable-sketch path for
    cardinality at 100 TB, where exact COUNT(DISTINCT) shuffles every
    key and HLL ships one ~kB sketch per group per partition.
    No oracle BY DESIGN (HLL++ cell layout is engine-specific);
    the driver records rows-only, the 2%-rsd error bound is pinned in
    pytest against the exact sibling, and ``distinct_users`` anchors
    the grouping exactly."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "text_heavy_hitters",
    r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
cells AS (
  SELECT d,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || term), 1, 15)
              AS BIGINT) % 64 AS slot,
         COUNT(*) AS cnt
  FROM toks, range(4) t(d)
  GROUP BY 1, 2
),
probes AS (
  SELECT c.term, t.d,
         CAST('0x' || substr(md5(CAST(t.d AS VARCHAR) || '|' || c.term), 1, 15)
              AS BIGINT) % 64 AS slot
  FROM (SELECT DISTINCT term FROM toks) c, range(4) t(d)
)
SELECT p.term, CAST(MIN(s.cnt) AS BIGINT) AS est_count
FROM probes p JOIN cells s ON s.d = p.d AND s.slot = p.slot
GROUP BY p.term
ORDER BY est_count DESC, term ASC
LIMIT 20
""",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 terms by Count-Min estimate (operators/sketch): the
    linear-sketch frequency path whose shuffle is bounded at
    depth·width cells regardless of vocabulary size.  md5-derived
    slots make the approximation deterministic, so the oracle
    replicates the sketch exactly — hash parity on an approximate
    operator with no rows-only compromise."""
    from marketstore_spark.operators.sketch import cms_heavy_hitters

    return cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_pack",
    r"""
WITH RECURSIVE
ev AS (
  SELECT lang AS shard, doc_id,
         CAST(CASE WHEN trim(text) <> ''
              THEN len(string_split_regex(trim(text), '\s+'))
              ELSE 0 END AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
),
r(shard, doc_id, n_tokens, rn, pack_id, pack_offset, fill) AS (
  SELECT shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.shard, e.doc_id, e.n_tokens, e.rn,
         CASE WHEN r.fill + e.n_tokens > 256 THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.fill + e.n_tokens > 256 THEN 0 ELSE r.fill END,
         CASE WHEN r.fill + e.n_tokens > 256 THEN e.n_tokens
              ELSE r.fill + e.n_tokens END
  FROM ev e JOIN r ON e.shard = r.shard AND e.rn = r.rn + 1
)
SELECT shard, doc_id, n_tokens, pack_id, pack_offset FROM r
""",
)
def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing into 256-token bins per lang
    shard (operators/sampling.pack_documents) — the LLM pre-training
    packing step as one applyInPandas recurrence; oracle replays the
    identical integer recurrence in a recursive CTE."""
    from marketstore_spark.operators.sampling import pack_documents

    return pack_documents(load_table(spark, sf_dir, "documents"), capacity=256)


# =====================================================================
# LLM-data-pipeline: dedup (SURVEY §2 #30-34)
# =====================================================================

_SHINGLE_CTE = """
d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
),
raw AS (
  SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
  FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM d WHERE len(w) >= 3)
),
ds AS (SELECT DISTINCT doc_id, sh FROM raw)
"""


@_register(
    "dedup_exact",
    """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@_register(
    "dedup_span",
    r"""
WITH w AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest([md5(array_to_string(list_slice(ws, i, i + 9), ' '))
                 FOR i IN generate_series(1, len(ws) - 9, 10)]) AS span_hash
  FROM w WHERE len(ws) >= 10
)
SELECT span_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM s GROUP BY span_hash HAVING COUNT(DISTINCT doc_id) >= 2
""",
)
def dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph/line-analogue) exact dedup over
    non-overlapping 10-word spans — the Dolma/CCNet dedup stage that
    whole-document hashing misses (operators/dedup.span_dedup_groups)."""
    from marketstore_spark.operators.dedup import span_dedup_groups

    return span_dedup_groups(load_table(spark, sf_dir, "documents"))


@_register(
    "dedup_substring",
    r"""
WITH w AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
         unnest([md5(array_to_string(list_slice(ws, i, i + 7), ' '))
                 FOR i IN generate_series(1, len(ws) - 7)]) AS h
  FROM w WHERE len(ws) >= 8
),
d AS (SELECT h FROM s GROUP BY h HAVING COUNT(*) >= 2),
m AS (SELECT s.doc_id, s.pos FROM s JOIN d USING (h)),
r AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_word,
       CAST(MAX(pos) + 8 AS BIGINT) AS end_word,
       CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS width_words
FROM r GROUP BY doc_id, grp
""",
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated substrings per document via OVERLAPPING
    8-word gram hashes — the distributed ExactSubstr dedup stage
    (Lee et al. 2022); catches boilerplate at any word offset that
    dedup_span's fixed non-overlapping windows straddle
    (operators/dedup.substring_dup_spans)."""
    from marketstore_spark.operators.dedup import substring_dup_spans

    return substring_dup_spans(load_table(spark, sf_dir, "documents"), k=8, min_sites=2)


@_register(
    "dedup_substring_rate",
    r"""
WITH w AS (
  SELECT doc_id, source,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
tot AS (
  SELECT source, doc_id,
         CASE WHEN trim(ws[1]) = '' AND len(ws) = 1 THEN 0 ELSE len(ws) END AS n_words
  FROM w
),
s AS (
  SELECT doc_id,
         unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
         unnest([md5(array_to_string(list_slice(ws, i, i + 7), ' '))
                 FOR i IN generate_series(1, len(ws) - 7)]) AS h
  FROM w WHERE len(ws) >= 8
),
d AS (SELECT h FROM s GROUP BY h HAVING COUNT(*) >= 2),
m AS (SELECT s.doc_id, s.pos FROM s JOIN d USING (h)),
r AS (SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m),
sp AS (SELECT doc_id, MAX(pos) + 8 - MIN(pos) AS width FROM r GROUP BY doc_id, grp),
pd AS (SELECT doc_id, CAST(SUM(width) AS BIGINT) AS dup_words FROM sp GROUP BY 1)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(COALESCE(dup_words, 0)) AS BIGINT) AS dup_span_words,
       CAST(SUM(COALESCE(dup_words, 0)) AS DOUBLE)
         / CAST(SUM(n_words) AS DOUBLE) AS dup_word_rate
FROM tot LEFT JOIN pd USING (doc_id)
GROUP BY source
""",
)
def dedup_substring_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-PASSAGE ledger: fraction of each source's
    words inside a duplicated substring span.  dedup_rate_by_source
    counts copied documents; this counts copied passages — the signal
    for a feed whose pages are distinct but boilerplate-heavy
    (operators/dedup.substring_dup_rate_by_source)."""
    from marketstore_spark.operators.dedup import substring_dup_rate_by_source

    return substring_dup_rate_by_source(
        load_table(spark, sf_dir, "documents"), k=8, min_sites=2
    )


@_register(
    "dedup_ngram_jaccard",
    f"""
WITH {_SHINGLE_CTE},
capped AS (
  SELECT doc_id, sh FROM ds
  WHERE sh IN (SELECT sh FROM ds GROUP BY sh HAVING COUNT(*) <= 1000)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id AS doc_a, b_id AS doc_b,
       inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sz sa ON a_id = sa.doc_id
JOIN sz sb ON b_id = sb.doc_id
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8, max_doc_freq=1000
    )


@_register(
    "dedup_containment",
    f"""
WITH {_SHINGLE_CTE},
capped AS (
  SELECT doc_id, sh FROM ds
  WHERE sh IN (SELECT sh FROM ds GROUP BY sh HAVING COUNT(*) <= 1000)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id AS doc_a, b_id AS doc_b, inter,
       sa.n AS size_a, sb.n AS size_b,
       CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
FROM pairs
JOIN sz sa ON a_id = sa.doc_id
JOIN sz sb ON b_id = sb.doc_id
WHERE CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.9
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs — the quote/subset detector: a
    short doc embedded in a long one scores 1.0 where Jaccard stays
    near |A|/|B| and slips under the near-dup threshold
    (operators/dedup.ngram_containment_pairs)."""
    from marketstore_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.9, max_doc_freq=1000
    )


@_register(
    "source_novelty",
    f"""
WITH {_SHINGLE_CTE},
first AS (SELECT sh, MIN(doc_id) AS first_doc FROM ds GROUP BY 1),
novel AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS novel
          FROM first GROUP BY 1),
totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS grams FROM ds GROUP BY 1),
per_doc AS (
  SELECT t.doc_id, t.grams, COALESCE(n.novel, 0) AS novel
  FROM totals t LEFT JOIN novel n USING (doc_id)
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.grams) AS BIGINT) AS total_grams,
       CAST(SUM(p.novel) AS BIGINT) AS novel_grams,
       CAST(SUM(p.novel) AS DOUBLE) / CAST(SUM(p.grams) AS DOUBLE) AS novelty_rate
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY 1
""",
)
def source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the share of a source's distinct
    3-grams appearing there FIRST (min doc id) — re-stated phrasing
    shows up here even when whole documents hash distinct
    (operators/dedup.ngram_novelty_by_source)."""
    from marketstore_spark.operators.dedup import ngram_novelty_by_source

    return ngram_novelty_by_source(load_table(spark, sf_dir, "documents"), n=3)


@_register(
    "corpus_dedup_funnel",
    r"""
WITH base AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words
  FROM documents
),
ex AS (
  SELECT doc_id, n_words,
         doc_id <> MIN(doc_id) OVER (PARTITION BY h) AS removed_exact
  FROM base
),
w AS (SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
s AS (
  SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
         unnest([md5(array_to_string(list_slice(ws, i, i + 7), ' '))
                 FOR i IN generate_series(1, len(ws) - 7)]) AS h
  FROM w WHERE len(ws) >= 8
),
d AS (SELECT h FROM s GROUP BY h HAVING COUNT(*) >= 2),
m AS (SELECT s.doc_id, s.pos FROM s JOIN d USING (h)),
r AS (SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m),
sp AS (SELECT doc_id, MAX(pos) + 8 - MIN(pos) AS width FROM r GROUP BY doc_id, grp),
dupw AS (SELECT doc_id, CAST(SUM(width) AS BIGINT) AS dup_words FROM sp GROUP BY 1),
dd AS (SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS wj
       FROM documents),
raw AS (
  SELECT doc_id, wj[i+1] || ' ' || wj[i+2] || ' ' || wj[i+3] AS sh
  FROM (SELECT doc_id, wj, unnest(range(len(wj) - 2)) AS i FROM dd WHERE len(wj) >= 3)
),
ds AS (SELECT DISTINCT doc_id, sh FROM raw),
capped AS (
  SELECT doc_id, sh FROM ds
  WHERE sh IN (SELECT sh FROM ds GROUP BY sh HAVING COUNT(*) <= 1000)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2
),
near AS (
  SELECT DISTINCT b_id AS doc_id FROM pairs
  JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
),
staged AS (
  SELECT e.n_words,
         CASE WHEN e.removed_exact THEN 1
              WHEN COALESCE(CAST(du.dup_words AS DOUBLE) / NULLIF(e.n_words, 0), 0)
                   >= 0.3 THEN 2
              WHEN n.doc_id IS NOT NULL THEN 3 ELSE 0 END AS removed_at
  FROM ex e LEFT JOIN dupw du USING (doc_id) LEFT JOIN near n USING (doc_id)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS n_words FROM staged),
per AS (
  SELECT removed_at, CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(SUM(n_words) AS BIGINT) AS words
  FROM staged WHERE removed_at > 0 GROUP BY 1
)
SELECT s.stage,
       CASE s.stage WHEN 1 THEN 'exact' WHEN 2 THEN 'substring'
            ELSE 'neardup' END AS stage_name,
       COALESCE(p.docs, 0) AS docs_removed,
       tot.n_docs - CAST(SUM(COALESCE(p.docs, 0)) OVER (ORDER BY s.stage) AS BIGINT)
         AS docs_remaining,
       tot.n_words - CAST(SUM(COALESCE(p.words, 0)) OVER (ORDER BY s.stage) AS BIGINT)
         AS words_remaining
FROM (SELECT unnest([1, 2, 3]) AS stage) s
LEFT JOIN per p ON p.removed_at = s.stage
CROSS JOIN tot
""",
)
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-family capstone: cumulative attrition across exact →
    substring-heavy (≥30% duplicated words) → near-dup (3-gram Jaccard
    ≥0.8) removal, in docs and words — the table a mix designer reads
    before choosing stages (operators/dedup.dedup_funnel)."""
    from marketstore_spark.operators.dedup import dedup_funnel

    return dedup_funnel(load_table(spark, sf_dir, "documents"))


@_register(
    "text_zipf_fit",
    r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
counts AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
  FROM counts
),
q AS (
  SELECT source,
         CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
  FROM ranked WHERE rk <= 1000
),
m AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx, CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx
  FROM q GROUP BY 1
)
SELECT source, n AS n_terms,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         AS zipf_slope
FROM m
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of each source's term-frequency curve (top-1000
    terms, fixed-point quantized logs, exact integer regression
    moments) — natural text sits near −1; templated feeds flatten
    (operators/text.zipf_fit)."""
    from marketstore_spark.operators.text import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"), top_k=1000)


_MH_K = 32
_MH_BANDS = 8


def _minhash_sql() -> str:
    rows = _MH_K // _MH_BANDS
    mins = ",\n         ".join(
        f"min(md5('{i}|' || sh)) AS mh{i}" for i in range(_MH_K)
    )
    comma = " || ',' || "
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band_idx, md5({expr}) AS band_key FROM mh".format(
            bi=bi, expr=comma.join(f"mh{bi * rows + r}" for r in range(rows))
        )
        for bi in range(_MH_BANDS)
    )
    return f"""
WITH {_SHINGLE_CTE},
mh AS (
  SELECT doc_id,
         {mins}
  FROM ds GROUP BY doc_id
),
bands AS (
{band_selects}
),
-- mirror the operator's bucket cap (dedup.py max_bucket): band buckets
-- holding >10000 docs are dropped as candidate sources on BOTH engines,
-- so parity holds even on a hot-banded (near-constant) corpus
ok_buckets AS (
  SELECT band_idx, band_key FROM bands
  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 10000
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ok_buckets o
  JOIN bands a ON a.band_idx = o.band_idx AND a.band_key = o.band_key
  JOIN bands b ON b.band_idx = o.band_idx AND b.band_key = o.band_key
   AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cands c
  JOIN ds a ON a.doc_id = c.doc_a
  JOIN ds b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       i.inter * 1.0 / (sa.n + sb.n - i.inter) AS jaccard
FROM inter i
JOIN sz sa ON i.doc_a = sa.doc_id
JOIN sz sb ON i.doc_b = sb.doc_id
WHERE i.inter * 1.0 / (sa.n + sb.n - i.inter) >= 0.7
"""


#: Corpus indexes (pair lists, IVF centroids, PQ codebooks) keyed by
#: (application, index name, params): several keys consume each one, so
#: it is built once per session — a real deployment materializes it
#: next to the corpus.
_INDEXES: dict = {}


def _index(spark: SparkSession, name: str, params: tuple, build):
    """Return the session's ``name`` index for ``params``, calling
    ``build()`` on a miss.  Every access first drops the entries of
    other (stopped) applications: a persisted DataFrame outlives its
    session only as an unusable husk, and keeping one per application
    grows without bound in long-lived test processes."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _INDEXES if k[0] != app]:
        del _INDEXES[k]
    key = (app, name, params)
    if key not in _INDEXES:
        _INDEXES[key] = build()
    return _INDEXES[key]


def _minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minhash near-dup pair list: the keep-list, cluster, and pair
    queries all consume it, so it is one persisted ``_index``."""
    from marketstore_spark.operators.dedup import minhash_lsh_pairs

    return _index(
        spark,
        "minhash_pairs",
        (sf_dir,),
        lambda: minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            n=3,
            num_hashes=_MH_K,
            bands=_MH_BANDS,
            threshold=0.7,
        ).persist(),
    )


@_register("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs_cached(spark, sf_dir)


@_register(
    "dedup_simhash",
    """
WITH d AS (SELECT doc_id, trim(text) AS t FROM documents WHERE trim(text) <> ''),
toks AS (SELECT DISTINCT doc_id, unnest(string_split_regex(t, '\\s+')) AS tok FROM d),
bits AS (
  SELECT doc_id, tok,
         lpad(bin(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)), 60, '0') AS bs
  FROM toks
),
pos AS (
  SELECT doc_id, i AS pos, substr(bs, CAST(i + 1 AS INT), 1) AS bit
  FROM bits, range(60) t(i)
),
votes AS (
  SELECT doc_id, pos, SUM(CASE WHEN bit = '1' THEN 1 ELSE -1 END) AS vote
  FROM pos GROUP BY 1, 2
)
SELECT doc_id,
       string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
FROM votes GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"))


def _minhash_keep_sql() -> str:
    return f"""
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_b FROM ({_minhash_sql()}))
"""


@_register("dedup_minhash_keep", _minhash_keep_sql())
def dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy dedup keep-list: survivors after dropping every doc that
    near-duplicates (minhash pairs) a smaller-id doc."""
    from marketstore_spark.operators.dedup import keep_list

    docs = load_table(spark, sf_dir, "documents")
    return keep_list(docs, _minhash_pairs_cached(spark, sf_dir))


def _clusters_sql() -> str:
    """Connected components as a recursive CTE: ``walk`` enumerates
    every (node, reachable id); MIN over it is exactly the min-label
    fixed point the Spark propagation converges to."""
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) q),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
)
SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
"""


@_register("dedup_clusters", _clusters_sql())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the minhash pair graph —
    iterative min-label propagation on Spark, verified against a
    DuckDB recursive-CTE reachability oracle (exact hash parity; the
    union-find cross-check in pytest stays as a third opinion)."""
    from marketstore_spark.operators.dedup import connected_components

    return connected_components(_minhash_pairs_cached(spark, sf_dir))


@_register(
    "dedup_simhash_pairs",
    """
WITH d AS (SELECT doc_id, trim(text) AS t FROM documents WHERE trim(text) <> ''),
toks AS (SELECT DISTINCT doc_id, unnest(string_split_regex(t, '\\s+')) AS tok FROM d),
bits AS (
  SELECT doc_id, tok,
         lpad(bin(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)), 60, '0') AS bs
  FROM toks
),
pos AS (
  SELECT doc_id, i AS p, substr(bs, CAST(i + 1 AS INT), 1) AS bit
  FROM bits, range(60) t(i)
),
votes AS (
  SELECT doc_id, p, SUM(CASE WHEN bit = '1' THEN 1 ELSE -1 END) AS vote
  FROM pos GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, bi AS band_idx,
         substr(simhash, CAST(bi * 15 + 1 AS INT), 15) AS band_key
  FROM sig, range(4) t(bi)
),
-- mirror the operator's bucket cap (dedup.py max_bucket)
ok_buckets AS (
  SELECT band_idx, band_key FROM banded
  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 10000
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM ok_buckets o
  JOIN banded a ON a.band_idx = o.band_idx AND a.band_key = o.band_key
  JOIN banded b ON b.band_idx = o.band_idx AND b.band_key = o.band_key
   AND a.doc_id < b.doc_id
),
ham AS (
  SELECT doc_a, doc_b,
         SUM(CASE WHEN substr(sa, CAST(i + 1 AS INT), 1)
                  <> substr(sb, CAST(i + 1 AS INT), 1) THEN 1 ELSE 0 END) AS hamming
  FROM cands, range(60) t(i) GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: band-bucket candidates (4×15-bit bands →
    any Hamming-≤3 pair shares a band by pigeonhole) verified by exact
    Hamming distance — candidates never leave their buckets, so no
    O(n²) signature compare."""
    from marketstore_spark.operators.dedup import simhash_pairs

    out = simhash_pairs(load_table(spark, sf_dir, "documents"), bands=4, max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


@_register(
    "dedup_embedding",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.dedup import embedding_dup_pairs

    # the sanctioned small-n exact verifier (test corpora are ≤2k
    # vectors; allow_quadratic skips the guard's count scan) — the
    # corpus-scale path is dedup_embedding_lsh
    return embedding_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35, allow_quadratic=True
    )


@_register("dedup_embedding_lsh")  # approximate (blocked): rows-only check;
# precision==1.0 + recall floor pinned in pytest vs the exact operator
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for embedding near-dup: hyperplane-LSH blocked
    candidates + exact cosine verify (no O(n²) crossJoin)."""
    from marketstore_spark.operators.dedup import embedding_dup_pairs_lsh

    return embedding_dup_pairs_lsh(load_table(spark, sf_dir, "embeddings"), threshold=0.35)


@_register(
    "dedup_embedding_lsh_exhaustive",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
""",
)
def dedup_embedding_lsh_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked-LSH dedup machinery driven exhaustively (zero
    hyperplanes → one bucket): candidate generation covers every pair,
    so the output EQUALS the exact operator and the exact oracle
    hash-verifies the bucket self-join + cosine-verify pipeline.  The
    tuned configuration (dedup_embedding_lsh) stays recall-pinned."""
    from marketstore_spark.operators.dedup import embedding_dup_pairs_lsh

    return embedding_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.35,
        num_planes=0,
        num_tables=1,
    )


# =====================================================================
# LLM-data-pipeline: similarity search (SURVEY §2 #35-36)
# =====================================================================


@_register(
    "ann_cosine_topk",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM q, e c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.simsearch import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "ann_filtered",
    """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
c AS (SELECT * FROM e WHERE label = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM q, c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN: top-k among corpus vectors matching a
    predicate (here label = 0) — the filter prunes BEFORE candidate
    scoring, so a selective predicate shrinks the search, it never
    post-filters a fixed top-k (which under-fills k)."""
    from marketstore_spark.operators.simsearch import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb.filter(F.col("label") == 0), emb.filter(F.col("vec_id") < 10), k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register("ann_lsh")  # approximate: rows-only check; recall vs brute in pytest
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketstore_spark.operators.simsearch import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, num_planes=8)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "ann_lsh_exhaustive",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id >= 20 AND vec_id < 30),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM q, e c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def ann_lsh_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH machinery driven exhaustively (zero hyperplanes → one
    bucket): candidates become the whole corpus, so the result EQUALS
    brute force and the brute-force oracle hash-verifies the bucket
    assignment / join / re-rank pipeline end to end.  The tuned
    configuration (ann_lsh) stays recall-pinned in pytest."""
    from marketstore_spark.operators.simsearch import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(
        emb,
        emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30)),
        k=5,
        num_planes=0,
        num_tables=1,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _pq_books(spark: SparkSession, emb: DataFrame, sf_dir: str, m: int = 8, ksub: int = 16):
    """Codebooks are an ``_index``: trained once per corpus and reused
    across queries, so steady-state query cost is the ADC scan +
    re-rank only."""
    from marketstore_spark.operators.simsearch import train_pq_codebooks

    return _index(
        spark, "pq_codebooks", (sf_dir, m, ksub), lambda: train_pq_codebooks(emb, m=m, ksub=ksub)
    )


def _ivf_centroids(spark: SparkSession, emb: DataFrame, sf_dir: str, nlist: int = 16):
    """Centroids are an ``_index``: trained once per corpus and reused
    across queries, so steady-state query cost is probe + re-rank
    only."""
    from marketstore_spark.operators.simsearch import train_ivf_centroids

    return _index(
        spark, "ivf_centroids", (sf_dir, nlist), lambda: train_ivf_centroids(emb, nlist=nlist)
    )


@_register("ann_pq")  # approximate: rows-only check; recall vs brute in pytest
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC compressed-domain ANN (Jégou et al. 2011): corpus vectors
    encode to m·log2(ksub) bits, the scan is table lookups, only the
    rerank·k ADC survivors see exact float math
    (operators/simsearch.pq_topk)."""
    from marketstore_spark.operators.simsearch import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        m=8,
        ksub=16,
        rerank=4,
        codebooks=_pq_books(spark, emb, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register("ann_ivfpq")  # approximate: rows-only check; recall vs brute in pytest
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the canonical billion-scale composition (coarse lists
    prune WHICH rows are scored, PQ codes make scoring them cheap);
    both index artifacts are ``_index`` entries
    (operators/simsearch.ivfpq_topk)."""
    from marketstore_spark.operators.simsearch import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nlist=16,
        nprobe=4,
        m=8,
        ksub=16,
        rerank=4,
        centroids=_ivf_centroids(spark, emb, sf_dir),
        codebooks=_pq_books(spark, emb, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "ann_ivfpq_exhaustive",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM q, e c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def ann_ivfpq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with BOTH prunes vacuous (nprobe = nlist, rerank·k ≥
    corpus): the exact re-rank sees every row, so the output EQUALS
    brute force — hash-anchoring the coarse-assign / encode / ADC /
    re-rank pipeline end to end."""
    from marketstore_spark.operators.simsearch import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nlist=16,
        nprobe=16,
        m=8,
        ksub=16,
        rerank=500,
        centroids=_ivf_centroids(spark, emb, sf_dir),
        codebooks=_pq_books(spark, emb, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "ann_pq_exhaustive",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM q, e c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def ann_pq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ machinery driven exhaustively (rerank·k ≥ corpus): every
    row survives the ADC prune, so the exact re-rank EQUALS brute force
    — hash-verifying the encode/gather/prune/re-rank pipeline against
    the O(n·q) oracle (the ann_lsh_exhaustive contract)."""
    from marketstore_spark.operators.simsearch import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        m=8,
        ksub=16,
        rerank=500,
        codebooks=_pq_books(spark, emb, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register("ann_ivf")  # approximate: rows-only check; recall vs brute in pytest
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed ANN — the coarse-quantizer scale path (one inverted
    list per corpus vector, nprobe lists per query).  Centroids are an
    INDEX: trained once per corpus and reused across queries (an
    ``_index`` per session and path here; a real deployment persists
    them next to the bucketed corpus), so steady-state query cost is
    probe + re-rank only."""
    from marketstore_spark.operators.simsearch import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nlist=16,
        nprobe=4,
        centroids=_ivf_centroids(spark, emb, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "ann_ivf_exhaustive",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id >= 10 AND vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM q, e c WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def ann_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF machinery driven exhaustively (nprobe = nlist): every
    inverted list is probed, so the result EQUALS brute force and the
    brute-force SQL oracle hash-verifies the whole IVF code path —
    assignment, list routing, re-rank — not just its recall.  The
    pruned configuration (ann_ivf, nprobe<nlist) stays recall-pinned
    in pytest; this key is the driver-checked exactness anchor."""
    from marketstore_spark.operators.simsearch import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb,
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)),
        k=5,
        nlist=16,
        nprobe=16,
        centroids=_ivf_centroids(spark, emb, sf_dir),
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# =====================================================================
# LLM-data-pipeline: multimodal (SURVEY §2 #41)
# =====================================================================


@_register(
    "multimodal_meta",
    """
SELECT CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       COUNT(*) AS n_media,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents GROUP BY 1
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over the media table: at scale this must not
    touch payload bytes (column pruning keeps the binary column out of
    the read)."""
    from marketstore_spark.operators.multimodal import media_from_documents

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


@_register(
    "multimodal_frame_sample",
    """
WITH v AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) % 300 + 1 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, CAST(unnest(range(0, CAST(n_frames AS BIGINT), 10)) AS BIGINT) AS frame_idx
FROM v
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-derived frame sampling plan over the media table
    (operators/multimodal.frame_sample): JVM sequence+explode, payload
    column pruned out of the scan.  The container-probing and
    frame-decoding variants (frame_sample_avi / extract_frames) are
    pytest-covered — their outputs depend on binary payload decode,
    which SQL can't mirror."""
    from marketstore_spark.operators.multimodal import (
        frame_sample,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return frame_sample(media, every_n=10).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


@_register(
    "multimodal_video_decode",
    """
WITH v AS (
  SELECT doc_id AS media_id, doc_id % 4 + 1 AS n_frames
  FROM documents WHERE doc_id % 21 = 2
)
SELECT media_id,
       CAST(unnest(range(0, CAST(n_frames AS BIGINT))) AS BIGINT) AS frame_idx,
       CAST((media_id * 7 + unnest(range(0, CAST(n_frames AS BIGINT)))) % 15
            AS BIGINT) AS color_bucket,
       CAST(16 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height
FROM v
""",
)
def multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video decode through Spark: per media row a
    deterministic flat-color Motion-JPEG AVI is synthesized
    (operators/video.encode_avi codec='MJPG'), decoded frame-by-frame
    by the pure-numpy JPEG codec inside an Arrow-batched mapInPandas,
    and each decoded frame's mean pixel is quantized to a 16-level
    bucket.  Flat-color JPEG decodes within ±2 of the source
    (tests/test_jpeg.py), and the source color is 16*bucket+8, so the
    bucket is recoverable EXACTLY — the oracle hash-checks the decoded
    pixel content, not just the plumbing.  Reference parity:
    contrib/... has no video path; this is the LLM-pipeline extension
    (SURVEY §2 #41) with the ffmpeg-free MJPEG essence."""
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 21) == 2)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % 4 + 1).alias("n_frames"),
        )
    )
    out_schema = (
        "media_id long, frame_idx long, color_bucket long, width long, height long"
    )

    def run(batches):
        import numpy as np

        from marketstore_spark.operators.video import (
            decode_avi_frames,
            encode_avi,
        )

        for pdf in batches:
            rows = []
            for mid, nf in zip(pdf["media_id"], pdf["n_frames"]):
                mid, nf = int(mid), int(nf)
                frames = np.stack(
                    [
                        np.full((16, 16, 3), ((mid * 7 + i) % 15) * 16 + 8, np.uint8)
                        for i in range(nf)
                    ]
                )
                avi = encode_avi(frames, codec="MJPG", quality=90)
                for idx, px in decode_avi_frames(avi):
                    rows.append(
                        (mid, idx, int(px.mean() // 16), px.shape[1], px.shape[0])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "color_bucket", "width", "height"],
            )

    return docs.mapInPandas(run, out_schema)


@_register(
    "multimodal_gif_decode",
    """
WITH v AS (
  SELECT doc_id AS media_id, doc_id % 4 + 1 AS n_frames
  FROM documents WHERE doc_id % 17 = 3
)
SELECT media_id,
       CAST(unnest(range(0, CAST(n_frames AS BIGINT))) AS BIGINT) AS frame_idx,
       CAST((media_id * 5 + unnest(range(0, CAST(n_frames AS BIGINT)))) % 15
            AS BIGINT) AS color_bucket,
       CAST(12 AS BIGINT) AS width,
       CAST(12 AS BIGINT) AS height
FROM v
""",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode through Spark: per media row a
    deterministic flat-color animated GIF is synthesized
    (operators/gif.encode_gif), decoded frame-by-frame by the
    pure-python LZW decoder inside an Arrow-batched mapInPandas, and
    each frame's color recovered exactly — GIF is LOSSLESS, so the
    oracle checks decoded pixel content with no quantization slack at
    all (stronger than the ±2 JPEG bucket check)."""
    import numpy as np
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 17) == 3)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % 4 + 1).alias("n_frames"),
        )
    )
    out_schema = (
        "media_id long, frame_idx long, color_bucket long, width long, height long"
    )

    def run(batches):
        from marketstore_spark.operators.gif import decode_gif, encode_gif

        for pdf in batches:
            rows = []
            for mid, nf in zip(pdf["media_id"], pdf["n_frames"]):
                mid, nf = int(mid), int(nf)
                frames = np.stack(
                    [
                        np.full((12, 12, 3), ((mid * 5 + i) % 15) * 16 + 8, np.uint8)
                        for i in range(nf)
                    ]
                )
                gif = encode_gif(frames)
                for idx, px in enumerate(decode_gif(gif)):
                    rows.append(
                        (mid, idx, int(px.mean()) // 16, px.shape[1], px.shape[0])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "color_bucket", "width", "height"],
            )

    return docs.mapInPandas(run, out_schema)


@_register(
    "multimodal_audio_decode",
    """
WITH a AS (
  SELECT doc_id AS media_id,
         doc_id % 400 + 100 AS n,
         doc_id % 5 + 2 AS h,
         (doc_id % 8 + 1) * 1000 AS amp,
         doc_id % 50 AS z
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id,
       CAST(8000 + (media_id % 4) * 4000 AS BIGINT) AS rate,
       CAST(n + z AS BIGINT) AS n_samples,
       CAST(amp AS BIGINT) AS peak,
       CAST(amp * amp * n AS BIGINT) AS energy,
       CAST((n - 1) // h AS BIGINT) AS zero_crossings,
       CAST(z AS BIGINT) AS trailing_silence,
       CAST(1 AS INT) AS decoded_ok
FROM a
""",
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + signal analysis through Spark: each audio
    media row synthesizes a deterministic square-wave PCM16 WAV
    (operators/multimodal.synth_square_wav), which the real stdlib
    decoder then analyzes in an Arrow-batched mapInPandas
    (operators/multimodal.audio_features): peak, energy integral,
    zero-crossings, trailing silence — all integer-exact, so the
    oracle checks the decoded CONTENT in closed form (the audio
    analogue of the flat-color MJPEG content oracle)."""
    from pyspark.sql.types import BinaryType

    from marketstore_spark.operators.multimodal import (
        audio_features,
        synth_square_wav,
    )

    synth = F.pandas_udf(
        lambda s: s.map(lambda mid: synth_square_wav(int(mid))), BinaryType()
    )
    media = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select(F.col("doc_id").alias("media_id"), synth("doc_id").alias("payload"))
    )
    return audio_features(media)


# ---------------------------------------------------------------------
# Media near-dup dedup, oracle-backed (SURVEY §2 #41c): deterministic
# md5-derived 60-bit signatures with planted 1-bit-flip twins stand in
# for perceptual hashes, so DuckDB can replay the ENTIRE banded
# pipeline — shiftright/mask band keys, bucket cap, bit_count(xor)
# Hamming verify — and pin hash parity on the same
# dedup.hash_near_dup_pairs plan real image dHashes flow through
# (the simhash_pairs precedent, dedup.py:679).  The decode-to-dHash
# stage itself is pinned by multimodal_image_dhash /
# multimodal_video_dhash below via the closed-form gradient images.
# ---------------------------------------------------------------------

_MEDIA_SIGS_SQL = """
base AS (
  SELECT doc_id * 2 AS media_id,
         CAST('0x' || substr(md5('mediasig|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS sig
  FROM documents
),
twin AS (
  SELECT doc_id * 2 + 1 AS media_id,
         xor(CAST('0x' || substr(md5('mediasig|' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT),
             (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))) AS sig
  FROM documents WHERE doc_id % 5 = 0
),
sigs AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
banded AS (
  SELECT media_id, sig, bi AS band_idx,
         (sig >> CAST(60 - (bi + 1) * 15 AS INT)) & 32767 AS band_key
  FROM sigs, range(4) t(bi)
),
-- mirror the operator's bucket cap (dedup.py max_bucket)
ok_buckets AS (
  SELECT band_idx, band_key FROM banded
  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 10000
),
cands AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.sig AS sa, b.sig AS sb
  FROM ok_buckets o
  JOIN banded a ON a.band_idx = o.band_idx AND a.band_key = o.band_key
  JOIN banded b ON b.band_idx = o.band_idx AND b.band_key = o.band_key
   AND a.media_id < b.media_id
)"""


def _media_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media near-dup pair list: the pair-listing AND keep-list
    keys both consume it, so it is one persisted ``_index``."""
    from marketstore_spark.operators.dedup import hash_near_dup_pairs

    return _index(
        spark,
        "media_pairs",
        (sf_dir,),
        lambda: hash_near_dup_pairs(
            _media_sigs(spark, sf_dir), bits=60, bands=4, max_hamming=3
        ).persist(),
    )


def _media_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic 60-bit media signatures: one md5-derived hash per
    document (even media_id) plus, for every fifth doc, a planted
    near-dup twin (odd media_id) one bit-flip away — Hamming 1 ≤ 3,
    so pigeonhole guarantees the banded pipeline finds every twin."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sig = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mediasig|"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    base = docs.select((F.col("doc_id") * 2).alias("media_id"), sig.alias("dhash"))
    flip = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))")
    twin = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("media_id"),
        sig.bitwiseXOR(flip).alias("dhash"),
    )
    return base.unionByName(twin)


@_register(
    "dedup_media_pairs",
    f"""
WITH {_MEDIA_SIGS_SQL}
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cands WHERE bit_count(xor(sa, sb)) <= 3
""",
)
def dedup_media_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer perceptual-hash near-dup PAIRS (dedup.hash_near_dup_pairs,
    the pipeline image dHash / audio fingerprints flow through):
    pure-JVM shiftright/mask banding, capped band buckets, in-bucket
    expansion, bit_count(a XOR b) Hamming verify — no join in the
    executed plan (test_multimodal pins that) and no all-pairs.  The
    oracle replays banding + verify bit-for-bit on the deterministic
    signature set, pinning hash parity on the banded pipeline itself."""
    return _media_pairs_cached(spark, sf_dir).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@_register(
    "media_dedup_keep",
    f"""
WITH RECURSIVE {_MEDIA_SIGS_SQL},
pairs AS (
  SELECT id_a, id_b FROM cands WHERE bit_count(xor(sa, sb)) <= 3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
),
comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
SELECT media_id FROM sigs
WHERE media_id NOT IN (SELECT node FROM comp WHERE component <> node)
""",
)
def media_dedup_keep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup capstone (dedup.media_dedup_keep): banded pairs →
    connected components (min-id canonical) → keep-list of survivors,
    verified against the recursive-CTE reachability oracle exactly
    like dedup_clusters.  Consumes the shared persisted pair index
    (_media_pairs_cached) rather than re-running banding — the
    dedup_clusters/keep precedent."""
    from marketstore_spark.operators.dedup import connected_components

    pairs = _media_pairs_cached(spark, sf_dir)
    ids = _media_sigs(spark, sf_dir).select("media_id").distinct()
    comp = connected_components(pairs, "id_a", "id_b")
    dropped = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("media_id")
    )
    return ids.join(dropped, "media_id", "left_anti")


@_register(
    "multimodal_image_dhash",
    """
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 256 AS p
  FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id,
       CAST(p * CAST(72340172838076673 AS HUGEINT)
            - CASE WHEN p >= 128 THEN CAST('18446744073709551616' AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END
            AS BIGINT) AS dhash,
       CAST(1 AS INT) AS decoded_ok
FROM m
""",
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode → 64-bit perceptual dHash through Spark: per
    media row a deterministic gradient image with a CLOSED-FORM dHash
    is synthesized (multimodal.synth_gradient_image — BMP for even
    ids, PNG for odd, both lossless, exercising the magic sniffing),
    decoded and hashed by the pure-numpy pipeline inside one Arrow
    mapInPandas hop (multimodal.image_dhash).  The gradient walk makes
    the hash exactly ``(doc_id%256) repeated in all 8 bytes``, so the
    oracle pins decoded dHash CONTENT — the signature stage feeding
    dedup_media_pairs — not just plumbing."""
    from pyspark.sql.types import BinaryType

    from marketstore_spark.operators.multimodal import (
        image_dhash,
        synth_gradient_image,
    )

    synth = F.pandas_udf(
        lambda s: s.map(lambda mid: synth_gradient_image(int(mid))), BinaryType()
    )
    # no spread_for_narrow_work here (unlike the video/avc1 twins):
    # the per-image synth+dHash is ~0.3 ms/row — light enough that a
    # row shuffle buys nothing at sf0.1 (measured ~equal-or-worse) —
    # the simsearch._bucket_assigner lesson
    media = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("media_id"), synth("doc_id").alias("payload"))
    )
    return image_dhash(media)


@_register(
    "multimodal_video_dhash",
    """
WITH v AS (
  SELECT doc_id AS media_id, doc_id % 4 + 1 AS nf
  FROM documents WHERE doc_id % 23 = 4
),
f AS (
  SELECT media_id,
         CAST(unnest(range(0, CAST(nf AS BIGINT))) AS BIGINT) AS frame_idx
  FROM v
),
p AS (
  SELECT media_id, frame_idx, (media_id * 3 + frame_idx) % 256 AS pat FROM f
)
SELECT media_id, frame_idx,
       CAST(pat * CAST(72340172838076673 AS HUGEINT)
            - CASE WHEN pat >= 128 THEN CAST('18446744073709551616' AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END
            AS BIGINT) AS dhash
FROM p
""",
)
def multimodal_video_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode → per-frame dHash through Spark: per media
    row a deterministic uncompressed-DIB AVI whose every frame is a
    closed-form gradient (pattern ``(media_id*3+frame) % 256``) is
    synthesized, then container-sniffed, frame-decoded, and hashed by
    multimodal.video_frame_dhash in one Arrow hop — the fingerprint
    stage of video near-dup dedup, content-pinned per frame by the
    same closed form as multimodal_image_dhash."""
    from pyspark.sql.types import BinaryType

    from marketstore_spark.operators.multimodal import video_frame_dhash

    def synth_avi(s):  # noqa: ANN001 — pandas Series → pandas Series
        import numpy as np

        from marketstore_spark.operators.multimodal import synth_gradient_pixels
        from marketstore_spark.operators.video import encode_avi

        def make(mid):
            mid = int(mid)
            frames = np.stack(
                [
                    synth_gradient_pixels((mid * 3 + f) % 256)
                    for f in range(mid % 4 + 1)
                ]
            )
            return encode_avi(frames, codec="DIB")

        return s.map(make)

    from marketstore_spark.functions.layout import spread_for_narrow_work

    synth = F.pandas_udf(synth_avi, BinaryType())
    docs = spread_for_narrow_work(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 23 == 4)
        .select("doc_id"),
        "doc_id",
        heavy=True,
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        synth("doc_id").alias("payload"),
    )
    out = video_frame_dhash(media, every_n=1)
    return out.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"), "dhash"
    )


@_register(
    "multimodal_avc1_dhash",
    """
WITH v AS (
  SELECT doc_id AS media_id, doc_id % 3 + 1 AS nf
  FROM documents WHERE doc_id % 29 = 5
),
f AS (
  SELECT media_id,
         CAST(unnest(range(0, CAST(nf AS BIGINT))) AS BIGINT) AS frame_idx
  FROM v
),
p AS (
  SELECT media_id, frame_idx, (media_id * 7 + frame_idx) % 256 AS pat FROM f
)
SELECT media_id, frame_idx,
       CAST(pat * CAST(72340172838076673 AS HUGEINT)
            - CASE WHEN pat >= 128 THEN CAST('18446744073709551616' AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END
            AS BIGINT) AS dhash
FROM p
""",
)
def multimodal_avc1_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 decode through Spark, content-pinned: per media row
    a baseline IDR avc1 MP4 (operators/h264.encode_h264 at QP 0 →
    avcC + length-prefixed samples) whose every frame is a closed-form
    gradient is synthesized, then container-sniffed, CAVLC-decoded,
    intra-predicted, inverse-transformed, and dHashed by
    multimodal.video_frame_dhash in one Arrow hop.  QP 0 is lossless
    on gray gradients (test_h264 pins it) and the dHash compares ±8
    brightness steps, so the oracle's closed form pins the ENTIRE
    H.264 decode stack — entropy tables, prediction, transform,
    avcC/sample walk — against SQL every driver round, not just in
    pytest."""
    from pyspark.sql.types import BinaryType

    from marketstore_spark.operators.multimodal import video_frame_dhash

    def synth_avc1(s):  # noqa: ANN001 — pandas Series → pandas Series
        import numpy as np

        from marketstore_spark.operators.h264 import (
            annexb_to_avcc_samples,
            encode_h264,
        )
        from marketstore_spark.operators.mp4 import _box, mux_mp4_samples
        from marketstore_spark.operators.multimodal import synth_gradient_pixels

        def make(mid):
            mid = int(mid)
            frames = np.stack(
                [
                    synth_gradient_pixels((mid * 7 + f) % 256)
                    for f in range(mid % 3 + 1)
                ]
            )
            avcc, samples = annexb_to_avcc_samples(encode_h264(frames, qp=0))
            return mux_mp4_samples(
                samples, 18, 16, fps=5, fourcc=b"avc1",
                compressor=b"AVC Coding",
                extra_entry_boxes=_box(b"avcC", avcc),
            )

        return s.map(make)

    from marketstore_spark.functions.layout import spread_for_narrow_work

    synth = F.pandas_udf(synth_avc1, BinaryType())
    docs = spread_for_narrow_work(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 29 == 5)
        .select("doc_id"),
        "doc_id",
        heavy=True,
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        synth("doc_id").alias("payload"),
    )
    out = video_frame_dhash(media, every_n=1)
    return out.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"), "dhash"
    )


@_register(
    "multimodal_avc1_motion",
    """
WITH v AS (
  SELECT doc_id AS media_id, doc_id % 3 + 2 AS nf
  FROM documents WHERE doc_id % 59 = 7
),
f AS (
  SELECT media_id,
         CAST(unnest(range(0, CAST(nf AS BIGINT))) AS BIGINT) AS frame_idx
  FROM v
),
p AS (
  SELECT media_id, frame_idx,
         (media_id * 13 + frame_idx * 7) % 256 AS pat FROM f
)
SELECT media_id, frame_idx,
       CAST(pat * CAST(72340172838076673 AS HUGEINT)
            - CASE WHEN pat >= 128 THEN CAST('18446744073709551616' AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END
            AS BIGINT) AS dhash
FROM p
""",
)
def multimodal_avc1_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 INTER decode through Spark, content-pinned: per
    media row an IDR+P avc1 MP4 GOP (operators/h264.encode_h264 at
    QP 0, keyint — frame 0 IDR, the rest P slices with motion search,
    quarter-pel MC, skip runs, and the sliding-window DPB) whose every
    frame is a closed-form gradient walk is synthesized, then decoded
    SAMPLE-BY-SAMPLE through the stateful AvccDecoder inside
    multimodal.video_frame_dhash's Arrow hop.  The gradient's adjacent
    dHash cells differ by exactly ±8 while QP-0 residual error is
    bounded at ±2 (test_transform_quant_qp0_near_lossless), so the
    oracle's closed form pins the ENTIRE P-slice decode stack — inter
    CBP tables, MV prediction, interpolation, reference management —
    against SQL every driver round, the motion twin of
    multimodal_avc1_dhash."""
    from pyspark.sql.types import BinaryType

    from marketstore_spark.operators.multimodal import video_frame_dhash

    def synth_avc1_gop(s):  # noqa: ANN001 — pandas Series → pandas Series
        import numpy as np

        from marketstore_spark.operators.h264 import (
            annexb_to_avcc_samples,
            encode_h264,
        )
        from marketstore_spark.operators.mp4 import _box, mux_mp4_samples
        from marketstore_spark.operators.multimodal import synth_gradient_pixels

        def make(mid):
            mid = int(mid)
            frames = np.stack(
                [
                    synth_gradient_pixels((mid * 13 + f * 7) % 256)
                    for f in range(mid % 3 + 2)
                ]
            )
            avcc, samples = annexb_to_avcc_samples(
                encode_h264(frames, qp=0, keyint=16, search_range=1)
            )
            return mux_mp4_samples(
                samples, 18, 16, fps=5, fourcc=b"avc1",
                compressor=b"AVC Coding",
                extra_entry_boxes=_box(b"avcC", avcc),
                sync_samples=[1],
            )

        return s.map(make)

    from marketstore_spark.functions.layout import spread_for_narrow_work

    synth = F.pandas_udf(synth_avc1_gop, BinaryType())
    docs = spread_for_narrow_work(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 59 == 7)
        .select("doc_id"),
        "doc_id",
        heavy=True,
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        synth("doc_id").alias("payload"),
    )
    out = video_frame_dhash(media, every_n=1)
    return out.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"), "dhash"
    )


@_register(
    "gapfill_interp",
    """
WITH b AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS epoch, MAX(value) AS value
  FROM events GROUP BY 1, 2
),
f AS (
  SELECT user_id, epoch, value,
         LEAD(epoch) OVER w AS nepoch, LEAD(value) OVER w AS nvalue
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY epoch)
),
e AS (
  SELECT user_id, epoch AS e0, value, nvalue,
         CAST(COALESCE((epoch_us(nepoch) - epoch_us(epoch)) // 3600000000, 1) AS BIGINT) AS gap_len,
         unnest(generate_series(
           0,
           CAST(COALESCE((epoch_us(nepoch) - epoch_us(epoch)) // 3600000000, 1) AS BIGINT) - 1
         )) AS pos
  FROM f
)
SELECT user_id, e0 + INTERVAL '1 hour' * pos AS epoch,
       CASE WHEN pos = 0 THEN value
            ELSE value + (nvalue - value) * pos / gap_len END AS value,
       CAST(CASE WHEN pos > 0 THEN 1 ELSE 0 END AS INT) AS filled
FROM e
""",
)
def gapfill_interp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly series densified with LINEAR interpolation between
    present buckets (operators/gapfill.gapfill_interp) — the charting
    half of the continuous-series contract; same never-shuffle-the-grid
    fan-out plan as gapfill."""
    from marketstore_spark.operators.gapfill import gapfill_interp

    return gapfill_interp(load_table(spark, sf_dir, "events"), "1H")


@_register(
    "gapfill",
    """
WITH b AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS epoch, MAX(value) AS value
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, MIN(epoch) AS lo, MAX(epoch) AS hi FROM b GROUP BY 1
), g AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS epoch FROM s
), j AS (
  SELECT g.user_id, g.epoch, b.value
  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.epoch = b.epoch
)
SELECT user_id, epoch,
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY epoch
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       CASE WHEN value IS NULL THEN 1 ELSE 0 END AS filled
FROM j
""",
)
def gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 1H grid (finer grids work identically — 15Min is
    pytest-covered; the registered grid keeps the correctness-gate
    result size proportionate to the other keys)."""
    ev = load_table(spark, sf_dir, "events")
    return gapfill_ffill(ev, "1H", agg="max")


# =====================================================================
# Corporate actions as a first-class table (uda/adjust/caloader.go +
# contrib/ice; SURVEY §2 #17b)
# =====================================================================

_CA_CTE = """
  SELECT CAST(user_id AS VARCHAR) AS symbol, ts AS ex_ts,
         CAST(0.5 AS DOUBLE) AS ratio, 'split' AS type
  FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0
  UNION ALL
  SELECT CAST(user_id AS VARCHAR) AS symbol, ts AS ex_ts,
         CAST(0.98 AS DOUBLE) AS ratio, 'dividend' AS type
  FROM events WHERE event_type = 'purchase' AND event_id % 89 = 0
"""


@_register("corporate_actions", f"SELECT symbol, ex_ts, ratio, type FROM ({_CA_CTE})")
def corporate_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CA table itself (symbol, ex_ts, ratio, type) — what
    caloader.go reads from the per-symbol CA buckets; derived
    deterministically from the tick stream because the fixed testdata
    ships no announcement files (ingest of real announcement files is
    operators/ca.parse_announcements, pytest-covered)."""
    from marketstore_spark.operators.ca import synthetic_corporate_actions

    return synthetic_corporate_actions(load_table(spark, sf_dir, "events"))


@_register(
    "uda_adjust_ca",
    f"""
WITH ca AS (
  SELECT CAST(symbol AS BIGINT) AS user_id, ex_ts AS ts, ratio
  FROM ({_CA_CTE})
), u AS (
  SELECT user_id, ts, value, CAST(NULL AS DOUBLE) AS ratio, 0 AS is_ca FROM events
  UNION ALL
  SELECT user_id, ts, NULL AS value, ratio, 1 AS is_ca FROM ca
), f AS (
  SELECT user_id, ts, value, is_ca,
         SUM(CASE WHEN is_ca = 1 AND ratio = CAST(0.5 AS DOUBLE)
                  THEN 1 ELSE 0 END) OVER w AS n05,
         SUM(CASE WHEN is_ca = 1 AND ratio = CAST(0.98 AS DOUBLE)
                  THEN 1 ELSE 0 END) OVER w AS n98
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, is_ca ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, ts, value,
       CAST(ROUND(CAST(CAST(
         value * (({_sql_pow_table(0.5)})[CAST(n05 + 1 AS INT)]
                  * ({_sql_pow_table(0.98)})[CAST(n98 + 1 AS INT)])
       AS VARCHAR) AS DECIMAL(35,16)), 4) AS DOUBLE) AS adjusted
FROM f WHERE is_ca = 0
""",
)
def uda_adjust_ca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjustment against the first-class CA table (splits AND
    dividends), i.e. uda/adjust consuming caloader's RateChangeEvents
    rather than a synthetic inline ratio stream."""
    from marketstore_spark.operators.ca import (
        adjust_with_actions,
        synthetic_corporate_actions,
    )

    ev = load_table(spark, sf_dir, "events")
    ca = synthetic_corporate_actions(ev)
    return adjust_with_actions(
        ev.select("user_id", "ts", "value"), ca, ratios=[0.5, 0.98]
    )


# =====================================================================
# Round-6 additions: indicator surface (ATR / Donchian / cross-
# sectional momentum) + corpus shaping (chunking, stratified mix,
# unigram quality score)
# =====================================================================


@_register(
    "atr",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, MAX(px_c) AS h, MIN(px_c) AS l,
         last(px_c ORDER BY ts, event_id) AS c
  FROM t GROUP BY symbol, bucket
),
tr AS (
  SELECT symbol, bucket,
         CASE WHEN prev_c IS NULL THEN h - l
              ELSE greatest(h - l, abs(h - prev_c), abs(l - prev_c)) END AS tr
  FROM (
    SELECT symbol, bucket, h, l,
           LAG(c) OVER (PARTITION BY symbol ORDER BY bucket) AS prev_c
    FROM c
  )
),
g AS (
  SELECT symbol, bucket, tr,
         SUM(tr) OVER wf AS s,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM tr
  WINDOW wf AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bucket AS epoch, CAST(tr AS BIGINT) AS tr,
       CAST(ROUND(CAST(CAST(
         CASE WHEN rn >= 14 THEN CAST(s AS DOUBLE) / 14.0 END
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS atr
FROM g
""",
)
def atr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Average True Range over integer-cent daily candles
    (operators/quant.atr): exact candle picks, integer TR, integer
    rolling sum, one double division."""
    from marketstore_spark.operators.quant import atr

    return atr(load_table(spark, sf_dir, "events"))


@_register(
    "donchian",
    """
WITH t AS (
  SELECT user_id AS symbol,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
hl AS (
  SELECT symbol, bucket, MAX(px_c) AS h, MIN(px_c) AS l
  FROM t GROUP BY symbol, bucket
),
g AS (
  SELECT symbol, bucket,
         CASE WHEN rn >= 20 THEN mx END AS upper_c,
         CASE WHEN rn >= 20 THEN mn END AS lower_c
  FROM (
    SELECT symbol, bucket,
           MAX(h) OVER wf AS mx, MIN(l) OVER wf AS mn,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
    FROM hl
    WINDOW wf AS (PARTITION BY symbol ORDER BY bucket
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
  )
)
SELECT symbol, bucket AS epoch,
       CAST(upper_c AS BIGINT) AS upper_c,
       CAST(lower_c AS BIGINT) AS lower_c,
       CAST(upper_c + lower_c AS DOUBLE) / 2.0 AS mid_c
FROM g
""",
)
def donchian_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Donchian channels (operators/quant.donchian): rolling
    integer-cent extrema; the midline divides by a power of two, so
    every value is exact with no rounding emulation."""
    from marketstore_spark.operators.quant import donchian

    return donchian(load_table(spark, sf_dir, "events"))


@_register(
    "xs_momentum",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS close_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, close_c FROM (
    SELECT symbol, bucket, close_c,
           row_number() OVER (PARTITION BY symbol, bucket
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM t
  ) WHERE rn = 1
),
m AS (
  SELECT symbol, bucket,
         close_c - LAG(close_c, 5) OVER w AS mom_c,
         LAG(close_c, 5) OVER w AS base_c
  FROM c
  WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
f AS (
  SELECT * FROM m WHERE mom_c IS NOT NULL AND base_c <> 0
)
SELECT symbol, bucket AS epoch, CAST(mom_c AS BIGINT) AS mom_c,
       CAST(ROUND(CAST(CAST(
         CAST(mom_c AS DOUBLE) / base_c
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS ret,
       CAST(RANK() OVER (PARTITION BY bucket
                         ORDER BY CAST(mom_c AS DOUBLE) / base_c DESC
                        ) AS BIGINT) AS xs_rank
FROM f
""",
)
def xs_momentum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-day cross-sectional momentum rank (operators/quant.
    xs_momentum): integer-cent moves, one double division for the
    return, integer rank per bucket ordered by return alone (ties
    share a rank — deterministic without a tie-break)."""
    from marketstore_spark.operators.quant import xs_momentum

    return xs_momentum(load_table(spark, sf_dir, "events"))


@_register(
    "corpus_chunk",
    r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(0, len(toks) - 1, 48)) AS start
  FROM t
)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_id,
       CAST(least(64, n - start) AS BIGINT) AS n_tokens,
       array_to_string(
         list_slice(toks, start + 1, start + least(64, n - start)), ' '
       ) AS chunk_text
FROM s
""",
)
def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with overlap (64-token chunks every
    48 tokens — the RAG/pre-training context-window split;
    operators/sampling.chunk_documents).  Pure per-row array
    projection: no shuffle, no UDF."""
    from marketstore_spark.operators.sampling import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


@_register(
    "corpus_sample_stratified",
    """
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5('stratified|' || CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE lang WHEN 'en' THEN '20' WHEN 'zh' THEN '80' ELSE '40' END
""",
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rebalanced sampling (en 32/256, zh 128/256, rest
    64/256 — the training-mix reweighting step; operators/sampling.
    stratified_hash_sample).  The rate table compiles into ONE CASE
    filter: no join, no shuffle."""
    from marketstore_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, rates={"en": 32, "zh": 128}, default_num=64
    ).select("doc_id", "lang", "source")


_SEMANTIC_ASSIGN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM e
  ORDER BY md5('semdedup|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
),
assign AS (
  SELECT e.vec_id AS id, e.v,
         (SELECT s.seed_id FROM seeds s
          ORDER BY list_cosine_similarity(e.v, s.sv) DESC, s.seed_id
          LIMIT 1) AS cluster_id
  FROM e
)
"""


@_register(
    "dedup_semantic",
    _SEMANTIC_ASSIGN_SQL
    + """
SELECT a.cluster_id, a.id AS id_a, b.id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM assign a JOIN assign b ON a.cluster_id = b.cluster_id AND a.id < b.id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
""",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.
    semantic_dedup_pairs): deterministic seeded cluster assignment
    (md5-sampled seeds, broadcast; argmax cosine) + within-cluster
    near-dup pairs via the shared block-pair gram machinery.  The
    quadratic search never leaves a cluster."""
    from marketstore_spark.operators.dedup import semantic_dedup_pairs

    return semantic_dedup_pairs(load_table(spark, sf_dir, "embeddings"))


@_register(
    "dedup_semantic_keep",
    _SEMANTIC_ASSIGN_SQL
    + """
SELECT id AS vec_id FROM assign
WHERE id NOT IN (
  SELECT b.id
  FROM assign a JOIN assign b ON a.cluster_id = b.cluster_id AND a.id < b.id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.35
)
""",
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list (operators/dedup.semantic_dedup_keep):
    survivors after dropping every vector that near-duplicates a
    smaller-id vector within its cluster — the greedy keep_list
    reduction over the semantic pairs."""
    from marketstore_spark.operators.dedup import semantic_dedup_keep

    return semantic_dedup_keep(load_table(spark, sf_dir, "embeddings"))


@_register(
    "corpus_training_mix",
    r"""
WITH RECURSIVE
mixed AS (
  SELECT doc_id, lang, text FROM documents
  WHERE substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 2) <
        CASE lang WHEN 'en' THEN '80' WHEN 'zh' THEN '40' ELSE '60' END
),
t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
  FROM mixed WHERE trim(text) <> ''
),
ch AS (
  SELECT doc_id, lang,
         CAST(start // 64 AS BIGINT) AS chunk_id,
         CAST(least(64, len(toks) - start) AS BIGINT) AS n_tokens
  FROM (
    SELECT doc_id, lang, toks,
           unnest(generate_series(0, len(toks) - 1, 64)) AS start
    FROM t
  )
),
ev AS (
  SELECT lang AS shard, doc_id * 1000000 + chunk_id AS cid,
         doc_id, chunk_id, n_tokens,
         row_number() OVER (PARTITION BY lang
                            ORDER BY doc_id * 1000000 + chunk_id) AS rn
  FROM ch
),
r(shard, cid, doc_id, chunk_id, n_tokens, rn, pack_id, pack_offset, fill) AS (
  SELECT shard, cid, doc_id, chunk_id, n_tokens, rn,
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), n_tokens
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.shard, e.cid, e.doc_id, e.chunk_id, e.n_tokens, e.rn,
         CASE WHEN r.fill + e.n_tokens > 256 THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.fill + e.n_tokens > 256 THEN 0 ELSE r.fill END,
         CASE WHEN r.fill + e.n_tokens > 256 THEN e.n_tokens
              ELSE r.fill + e.n_tokens END
  FROM ev e JOIN r ON e.shard = r.shard AND e.rn = r.rn + 1
)
SELECT shard AS lang, CAST(doc_id AS BIGINT) AS doc_id, chunk_id, n_tokens,
       pack_id, pack_offset
FROM r
""",
)
def corpus_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data preparation flow as ONE declarative
    plan — the capstone composition of the round-6 corpus operators:
    per-language rebalanced sampling (en 128/256, zh 64/256, rest
    96/256) → 64-token non-overlapping chunking (lang carried through
    the projection — no re-join) → next-fit packing of chunks into
    256-token bins per language shard.  Every stage keeps its own
    scale shape: pure filter, pure projection, one shard shuffle into
    the streaming packing fold.  The oracle replays the identical
    chain: md5 CASE filter → generate_series chunking → recursive-CTE
    packing — integer-exact end to end."""
    from marketstore_spark.operators.sampling import (
        chunk_documents,
        pack_documents,
        stratified_hash_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    mixed = stratified_hash_sample(
        docs, rates={"en": 128, "zh": 64}, default_num=96, salt="mix"
    )
    chunks = chunk_documents(
        mixed, chunk_tokens=64, stride=64, carry_cols=("lang",)
    )
    keyed = chunks.withColumn(
        "cid", F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_id")
    )
    packed = pack_documents(
        keyed, capacity=256, shard_col="lang", id_col="cid", tokens_col="n_tokens"
    )
    cid = F.col("doc_id")  # pack_documents exposes the id under doc_id
    return packed.select(
        F.col("shard").alias("lang"),
        F.floor(cid / F.lit(1_000_000)).cast("long").alias("doc_id"),
        F.pmod(cid, F.lit(1_000_000)).cast("long").alias("chunk_id"),
        "n_tokens",
        "pack_id",
        "pack_offset",
    )


@_register(
    "text_doc_freq_score",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
vocab AS (
  SELECT term, COUNT(*) AS term_count FROM toks GROUP BY term
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(v.term_count) AS BIGINT) AS sum_freq,
       CAST(SUM(v.term_count) AS DOUBLE) / COUNT(*) AS mean_term_freq
FROM toks t JOIN vocab v USING (term)
GROUP BY t.doc_id
""",
)
def text_doc_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-frequency quality score (operators/text.doc_freq_score):
    mean corpus frequency of each document's tokens — the KenLM-
    quality-filter shape with integer-exact sums and one double
    division."""
    from marketstore_spark.operators.text import doc_freq_score

    return doc_freq_score(load_table(spark, sf_dir, "documents"))


@_register(
    "tick_rule",
    """
WITH t AS (
  SELECT user_id AS symbol, ts AS epoch, event_id, value,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
d AS (
  SELECT symbol, epoch, event_id, vol,
         CASE WHEN prev IS NULL THEN NULL
              WHEN value > prev THEN 1
              WHEN value < prev THEN -1
              ELSE NULL END AS dir
  FROM (
    SELECT symbol, epoch, event_id, value, vol,
           LAG(value) OVER (PARTITION BY symbol ORDER BY epoch, event_id)
             AS prev
    FROM t
  )
),
s AS (
  SELECT symbol, epoch, event_id, vol,
         COALESCE(LAST_VALUE(dir IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY epoch, event_id
           ROWS UNBOUNDED PRECEDING), 0) AS side
  FROM d
)
SELECT symbol, epoch, event_id, CAST(side AS INT) AS side,
       CAST(side * vol AS BIGINT) AS signed_vol,
       CAST(SUM(side * vol) OVER (PARTITION BY symbol
                                  ORDER BY epoch, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_flow
FROM s
""",
)
def tick_rule_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-Ready tick-test signing + cumulative order flow
    (operators/quant.tick_rule): carry-forward direction via
    last-ignorenulls, BIGINT signed volume — order-exact, one sort
    per symbol shared by all windows."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import tick_rule

    ev = typed_attrs(load_table(spark, sf_dir, "events"))
    return tick_rule(ev.withColumn("volume", F.col("attrs.k")))


@_register(
    "nbbo",
    """
WITH q AS (
  SELECT user_id AS symbol, event_type AS venue, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 minute', ts) AS bucket
  FROM events
),
qq AS (
  SELECT symbol, venue, bucket, ts, event_id,
         px_c - 1 - (event_id % 4) AS bid_c,
         px_c + 1 + (event_id % 3) AS ask_c
  FROM q
),
lastq AS (
  SELECT symbol, venue, bucket, bid_c, ask_c FROM (
    SELECT symbol, venue, bucket, bid_c, ask_c,
           ROW_NUMBER() OVER (PARTITION BY symbol, venue, bucket
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM qq
  ) WHERE rn = 1
),
best AS (
  SELECT symbol, bucket,
         MAX(bid_c) AS best_bid_c, MIN(ask_c) AS best_ask_c
  FROM lastq GROUP BY symbol, bucket
)
SELECT b.symbol, b.bucket AS epoch, b.best_bid_c, b.best_ask_c,
       bt.bid_venue, aa.ask_venue,
       b.best_ask_c - b.best_bid_c AS spread_c,
       CAST(b.best_bid_c + b.best_ask_c AS DOUBLE) / 2.0 AS mid_c
FROM best b
JOIN (
  SELECT l.symbol, l.bucket, MAX(l.venue) AS bid_venue
  FROM lastq l JOIN best bb
    ON l.symbol = bb.symbol AND l.bucket = bb.bucket
   AND l.bid_c = bb.best_bid_c
  GROUP BY l.symbol, l.bucket
) bt ON b.symbol = bt.symbol AND b.bucket = bt.bucket
JOIN (
  SELECT l.symbol, l.bucket, MIN(l.venue) AS ask_venue
  FROM lastq l JOIN best bb
    ON l.symbol = bb.symbol AND l.bucket = bb.bucket
   AND l.ask_c = bb.best_ask_c
  GROUP BY l.symbol, l.bucket
) aa ON b.symbol = aa.symbol AND b.bucket = aa.bucket
""",
)
def nbbo_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated NBBO per (symbol, minute) from synthetic two-sided
    quotes (operators/quant.nbbo; models/quote.go semantics): venue =
    event_type, deterministic integer-cent half-spreads derived from
    the tiebreak id, best-bid/ask across venues' last quotes with
    venue attribution.  Two partial-agg-friendly hash aggregates; the
    oracle reconstructs the struct-max tie-breaks with explicit
    attribution joins."""
    from marketstore_spark.operators.quant import nbbo

    return nbbo(load_table(spark, sf_dir, "events"))


_BM25_TERMS = ["join", "merge", "scan", "window"]


def _bm25_oracle(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    terms = sorted(set(terms))
    tf = {
        t: f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        for t in terms
    }
    dfc = {t: f"df{i}" for i, t in enumerate(terms)}
    contrib = " + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - {dfc[t]} + 0.5) / ({dfc[t]} + 0.5))"
        f" * ({tf[t]} * {k1 + 1.0!r}) / ({tf[t]} + {k1!r} * ({1.0 - b!r}"
        f" + {b!r} * (CAST(len(toks) AS DOUBLE) * CAST(n_docs AS DOUBLE))"
        f" / CAST(sum_dl AS DOUBLE)))"
        for t in terms
    )
    df_aggs = ", ".join(
        f"SUM(CAST(list_contains(toks, '{t}') AS BIGINT)) AS {dfc[t]}"
        for t in terms
    )
    return rf"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl, {df_aggs}
  FROM d
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(ROUND(CAST(CAST(0.0 + {contrib} AS VARCHAR)
                  AS DECIMAL(35,16)), 6) AS DOUBLE) AS bm25
FROM d CROSS JOIN stats
"""


@_register("text_bm25", _bm25_oracle(_BM25_TERMS))
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against a literal query term list
    (operators/text.bm25_score): ONE corpus aggregate reduced to a
    single broadcast row of integers (N, Σdl, per-term df), then a
    pure projection — zero corpus shuffles, tf via JVM array filter.
    The per-term contributions add in explicit sorted-term order and
    the score rounds at 6 via Spark's BigDecimal path (oracle
    emulates with the VARCHAR→DECIMAL chain)."""
    from marketstore_spark.operators.text import bm25_score

    scored = bm25_score(load_table(spark, sf_dir, "documents"), _BM25_TERMS)
    return scored.select(
        "doc_id", "n_tokens", F.round("bm25", 6).alias("bm25")
    )


@_register(
    "knn_label_eval",
    """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 5 = 0 AND vec_id < 250),
c AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
topk AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, q.label AS label,
           c.vec_id AS neighbor_id, c.label AS nlabel,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id
           ) AS rn
    FROM q, c
  ) WHERE rn <= 5
),
votes AS (
  SELECT query_id, label, nlabel, COUNT(*) AS votes
  FROM topk GROUP BY query_id, label, nlabel
),
best AS (
  SELECT query_id, label, nlabel AS pred FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY votes DESC, nlabel ASC
    ) AS brn
    FROM votes
  ) WHERE brn = 1
)
SELECT query_id AS vec_id, label, CAST(pred AS INT) AS pred,
       CAST(label = pred AS INT) AS correct
FROM best
""",
)
def knn_label_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-prediction eval over the embedding column
    (operators/simsearch.knn_label_eval): deterministic holdout,
    5-NN cosine majority vote with (count, smallest-label) tie rule,
    per-row truth vs prediction — one corpus scan, neighbor labels
    carried through the scoring projection."""
    from marketstore_spark.operators.simsearch import knn_label_eval

    return knn_label_eval(load_table(spark, sf_dir, "embeddings"))


def _rollup_cascade_oracle() -> str:
    levels = [
        ("5Min", _tick_candle_sql("5 minutes")),
        ("1H", _tick_candle_sql("1 hour")),
        ("1D", _tick_candle_sql("1 day")),
        ("1W", _tick_candle_sql("7 days")),
        (
            "1Mo",
            _tick_candle_sql("1 day").replace(
                "time_bucket(INTERVAL '1 day', ts)", "date_trunc('month', ts)"
            ),
        ),
    ]
    parts = [
        f"SELECT user_id, '{lv}' AS level, epoch, open, high, low, close,"
        f" value_sum, value_avg, n FROM ({sql})"
        for lv, sql in levels
    ]
    return "\nUNION ALL\n".join(parts)


@_register("rollup_cascade", _rollup_cascade_oracle())
def rollup_cascade_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five ondiskagg timeframes in one pass
    (operators/candler.rollup_cascade): ticks shuffle ONCE into 5Min
    candles, every coarser level re-aggregates the level below
    (contrib/ondiskagg/aggtrigger.go:70's fan-out, batch form).  The
    oracle computes each level directly from ticks, so hash parity
    proves cascade == direct — the invariant ondiskagg relies on."""
    from marketstore_spark.operators.candler import rollup_cascade

    return rollup_cascade(load_table(spark, sf_dir, "events"))


@_register(
    "corpus_shuffle",
    """
WITH k AS (
  SELECT doc_id, md5('shuffle|' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
),
s AS (
  SELECT doc_id, key,
         CAST('0x' || substr(key, 1, 15) AS BIGINT) % 8 AS shard
  FROM k
)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id)
            AS BIGINT) AS position
FROM s
""",
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (operators/sampling.training_shuffle): md5 shard + md5-ordered
    dense position per shard, reproducible on any engine; one uniform
    hash shuffle + independent per-shard sorts."""
    from marketstore_spark.operators.sampling import training_shuffle

    return training_shuffle(load_table(spark, sf_dir, "documents"))


@_register(
    "lee_ready",
    """
WITH q0 AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c
  FROM events WHERE event_type = 'view'
),
q1 AS (
  SELECT user_id, ts,
         (px_c - 1 - (event_id % 4)) + (px_c + 1 + (event_id % 3)) AS mid2
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) AS rn
    FROM q0
  ) WHERE rn = 1
),
t AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT t.user_id, t.ts, t.event_id, t.px_c, q.mid2
  FROM t ASOF LEFT JOIN q1 q
    ON t.user_id = q.user_id AND q.ts <= t.ts
),
d AS (
  SELECT *, CASE WHEN prev IS NULL THEN NULL
                 WHEN px_c > prev THEN 1
                 WHEN px_c < prev THEN -1 END AS dirn
  FROM (
    SELECT *, LAG(px_c) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
    FROM j
  )
),
s AS (
  SELECT *, LAST_VALUE(dirn IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) AS carry
  FROM d
)
SELECT user_id AS symbol, ts AS epoch, event_id, px_c,
       mid2 AS mid2_c,
       CAST(COALESCE(
         CASE WHEN mid2 IS NULL THEN NULL
              WHEN 2 * px_c > mid2 THEN 1
              WHEN 2 * px_c < mid2 THEN -1 END,
         carry, 0) AS INT) AS side
FROM s
""",
)
def lee_ready_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lee-Ready classification (operators/quant.lee_ready):
    trades ('purchase' ticks) signed against the prevailing synthetic
    quote midpoint ('view' ticks with the nbbo half-spread
    derivation, last-per-timestamp), tick-test fallback at the mid —
    as-of join + one shared trade-side sort, all-integer comparisons
    via the doubled midpoint."""
    from marketstore_spark.operators.quant import lee_ready

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(8,2)") * 100).cast("long")
    q0 = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", cents.alias("px_c")
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    )
    quotes = (
        q0.withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "ts",
            (
                (F.col("px_c") - 1 - F.pmod(F.col("event_id"), F.lit(4)))
                + (F.col("px_c") + 1 + F.pmod(F.col("event_id"), F.lit(3)))
            ).alias("mid2"),
        )
    )
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", cents.alias("px_c")
    )
    return lee_ready(trades, quotes)


# =====================================================================
# Event-driven bars & round-7 indicator family (operators/bars.py,
# operators/quant.py) — information-driven sampling and the remaining
# chart-service derivations over the reference's tick model.
# =====================================================================


@_register(
    "volume_bars",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
cb AS (
  SELECT *, COALESCE(SUM(vol) OVER (PARTITION BY symbol ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS cum_before
  FROM t
),
b AS (SELECT *, CAST(cum_before // 2000 AS BIGINT) AS bar_id FROM cb)
SELECT symbol, bar_id,
       first(px_c ORDER BY ts, event_id) AS open_c,
       MAX(px_c) AS high_c, MIN(px_c) AS low_c,
       last(px_c ORDER BY ts, event_id) AS close_c,
       CAST(SUM(vol) AS BIGINT) AS volume,
       CAST(SUM(px_c * vol) AS BIGINT) AS notional_c,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       MIN(ts) AS t_open, MAX(ts) AS t_close,
       CAST(SUM(px_c * vol) AS DOUBLE) / 100.0 / NULLIF(SUM(vol), 0) AS vwap
FROM b GROUP BY symbol, bar_id
""",
)
def volume_bars_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars at 2000 shares/bar (operators/bars.event_bars):
    cumulative-activity bucketing, exact integer OHLC picks, one
    shuffle (the candle aggregate reuses the cumsum's symbol
    partitioning)."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.bars import event_bars

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return event_bars(ev, threshold=2000, measure="volume")


@_register(
    "dollar_bars",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
cb AS (
  SELECT *, COALESCE(SUM(px_c * vol) OVER (PARTITION BY symbol ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            CAST(0 AS BIGINT)) AS cum_before
  FROM t
),
b AS (SELECT *, CAST(cum_before // 10000000 AS BIGINT) AS bar_id FROM cb)
SELECT symbol, bar_id,
       first(px_c ORDER BY ts, event_id) AS open_c,
       MAX(px_c) AS high_c, MIN(px_c) AS low_c,
       last(px_c ORDER BY ts, event_id) AS close_c,
       CAST(SUM(vol) AS BIGINT) AS volume,
       CAST(SUM(px_c * vol) AS BIGINT) AS notional_c,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       MIN(ts) AS t_open, MAX(ts) AS t_close,
       CAST(SUM(px_c * vol) AS DOUBLE) / 100.0 / NULLIF(SUM(vol), 0) AS vwap
FROM b GROUP BY symbol, bar_id
""",
)
def dollar_bars_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars at 100k$ notional/bar — the dollar-activity variant
    of volume_bars (same plan, integer price×volume bucketing)."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.bars import event_bars

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return event_bars(ev, threshold=10_000_000, measure="dollar")


@_register(
    "heikin_ashi",
    """
WITH RECURSIVE t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cand AS (
  SELECT symbol, bucket,
         first(px_c ORDER BY ts, event_id) AS o,
         MAX(px_c) AS h, MIN(px_c) AS l,
         last(px_c ORDER BY ts, event_id) AS c
  FROM t GROUP BY symbol, bucket
),
seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM cand
),
ha AS (
  SELECT symbol, rn, bucket, o, h, l, c,
         (CAST(o AS DOUBLE) + CAST(c AS DOUBLE)) / 2.0 AS ha_open,
         (((CAST(o AS DOUBLE) + CAST(h AS DOUBLE)) + CAST(l AS DOUBLE))
          + CAST(c AS DOUBLE)) / 4.0 AS ha_close
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.symbol, s.rn, s.bucket, s.o, s.h, s.l, s.c,
         (p.ha_open + p.ha_close) / 2.0,
         (((CAST(s.o AS DOUBLE) + CAST(s.h AS DOUBLE)) + CAST(s.l AS DOUBLE))
          + CAST(s.c AS DOUBLE)) / 4.0
  FROM seq s JOIN ha p ON s.symbol = p.symbol AND s.rn = p.rn + 1
)
SELECT symbol, bucket AS epoch, o, h, l, c,
       ha_open,
       greatest(CAST(h AS DOUBLE), ha_open, ha_close) AS ha_high,
       least(CAST(l AS DOUBLE), ha_open, ha_close) AS ha_low,
       ha_close
FROM ha
""",
)
def heikin_ashi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Heikin-Ashi candles (operators/bars.heikin_ashi): exact
    integer candle picks, the ha_open recurrence folded as literal
    float64 ops — the recursive-CTE oracle replays it bitwise."""
    from marketstore_spark.operators.bars import heikin_ashi

    return heikin_ashi(load_table(spark, sf_dir, "events"))


@_register(
    "amihud",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
d AS (
  SELECT symbol, bucket,
         last(px_c ORDER BY ts, event_id) AS close_c,
         CAST(SUM(px_c * vol) AS BIGINT) AS dv_c
  FROM t GROUP BY symbol, bucket
),
l AS (
  SELECT *, LAG(close_c) OVER (PARTITION BY symbol ORDER BY bucket) AS prev_c
  FROM d
)
SELECT symbol, bucket AS epoch, close_c, dv_c,
       CAST(close_c - prev_c AS DOUBLE) / NULLIF(prev_c, 0) AS ret,
       abs(CAST(close_c - prev_c AS DOUBLE) / NULLIF(prev_c, 0))
         / NULLIF(CAST(dv_c AS DOUBLE) / 100.0, 0) AS illiq
FROM l
""",
)
def amihud_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Amihud illiquidity per symbol
    (operators/quant.amihud_illiquidity): integer close/dollar-volume
    aggregates, two mirrored double divisions."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import amihud_illiquidity

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return amihud_illiquidity(ev)


@_register(
    "ichimoku",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 hour', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, MAX(px_c) AS h, MIN(px_c) AS l,
         last(px_c ORDER BY ts, event_id) AS c
  FROM t GROUP BY symbol, bucket
),
g AS (
  SELECT symbol, bucket, c,
         ROW_NUMBER() OVER ws AS rn,
         MAX(h) OVER w9 AS h9, MIN(l) OVER w9 AS l9,
         MAX(h) OVER w26 AS h26, MIN(l) OVER w26 AS l26,
         MAX(h) OVER w52 AS h52, MIN(l) OVER w52 AS l52,
         LEAD(c, 26) OVER ws AS chikou
  FROM c
  WINDOW ws AS (PARTITION BY symbol ORDER BY bucket),
         w9 AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         w26 AS (PARTITION BY symbol ORDER BY bucket
                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         w52 AS (PARTITION BY symbol ORDER BY bucket
                 ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bucket AS epoch, c AS close_c,
       CASE WHEN rn >= 9 THEN CAST(h9 + l9 AS DOUBLE) / 2.0 END AS tenkan,
       CASE WHEN rn >= 26 THEN CAST(h26 + l26 AS DOUBLE) / 2.0 END AS kijun,
       (CASE WHEN rn >= 9 THEN CAST(h9 + l9 AS DOUBLE) / 2.0 END
        + CASE WHEN rn >= 26 THEN CAST(h26 + l26 AS DOUBLE) / 2.0 END) / 2.0
         AS senkou_a,
       CASE WHEN rn >= 52 THEN CAST(h52 + l52 AS DOUBLE) / 2.0 END AS senkou_b,
       chikou AS chikou_c
FROM g
""",
)
def ichimoku_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly Ichimoku lines (operators/quant.ichimoku): LONG rolling
    extrema, power-of-two midpoint divisions, one shared per-symbol
    sort."""
    from marketstore_spark.operators.quant import ichimoku

    return ichimoku(load_table(spark, sf_dir, "events"), timeframe="1 hour")


@_register(
    "ofi",
    """
WITH q AS (
  SELECT user_id AS symbol, ts, event_id,
         'V' || CAST(event_id % 3 AS VARCHAR) AS venue,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c
  FROM events WHERE event_type = 'view'
),
s AS (
  SELECT symbol, ts, event_id, venue,
         px_c - 1 - (event_id % 4) AS bid_c,
         px_c + 1 + (event_id % 3) AS ask_c
  FROM q
),
d AS (
  SELECT symbol, time_bucket(INTERVAL '5 minutes', ts) AS epoch,
         COALESCE(SIGN(bid_c - LAG(bid_c) OVER w), 0)
         - COALESCE(SIGN(ask_c - LAG(ask_c) OVER w), 0) AS ofi
  FROM s
  WINDOW w AS (PARTITION BY symbol, venue ORDER BY ts, event_id)
)
SELECT symbol, epoch, CAST(SUM(ofi) AS BIGINT) AS ofi,
       CAST(COUNT(*) AS BIGINT) AS n_quotes
FROM d GROUP BY symbol, epoch
""",
)
def ofi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute order-flow imbalance over the synthetic per-venue
    quote stream (operators/quant.order_flow_imbalance — 'view' ticks,
    nbbo's half-spread derivation, venue = event_id mod 3): all-
    integer sign arithmetic, one per-(symbol, venue) sort, one bucket
    aggregate."""
    from marketstore_spark.operators.quant import order_flow_imbalance

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(8,2)") * 100).cast("long")
    quotes = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        "event_id",
        F.concat(
            F.lit("V"), F.pmod(F.col("event_id"), F.lit(3)).cast("string")
        ).alias("venue"),
        (cents - 1 - F.pmod(F.col("event_id"), F.lit(4))).alias("bid_c"),
        (cents + 1 + F.pmod(F.col("event_id"), F.lit(3))).alias("ask_c"),
    )
    return order_flow_imbalance(quotes)


@_register(
    "cusum_filter",
    """
WITH RECURSIVE t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 hour', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
seq AS (
  SELECT symbol, bucket, close_c,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM c
),
st AS (
  SELECT symbol, rn, bucket, close_c,
         CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
         CAST(0 AS INT) AS dir, CAST(NULL AS BIGINT) AS exc
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.symbol, s.rn, s.bucket, s.close_c,
         CASE WHEN greatest(CAST(0 AS BIGINT),
                            p.sp + (s.close_c - p.close_c)) > 8000
              THEN CAST(0 AS BIGINT)
              ELSE greatest(CAST(0 AS BIGINT),
                            p.sp + (s.close_c - p.close_c)) END,
         CASE WHEN least(CAST(0 AS BIGINT),
                         p.sn + (s.close_c - p.close_c)) < -8000
              THEN CAST(0 AS BIGINT)
              ELSE least(CAST(0 AS BIGINT),
                         p.sn + (s.close_c - p.close_c)) END,
         CASE WHEN greatest(CAST(0 AS BIGINT),
                            p.sp + (s.close_c - p.close_c)) > 8000 THEN 1
              WHEN least(CAST(0 AS BIGINT),
                         p.sn + (s.close_c - p.close_c)) < -8000 THEN -1
              ELSE 0 END,
         CASE WHEN greatest(CAST(0 AS BIGINT),
                            p.sp + (s.close_c - p.close_c)) > 8000
              THEN greatest(CAST(0 AS BIGINT),
                            p.sp + (s.close_c - p.close_c))
              WHEN least(CAST(0 AS BIGINT),
                         p.sn + (s.close_c - p.close_c)) < -8000
              THEN least(CAST(0 AS BIGINT),
                         p.sn + (s.close_c - p.close_c)) END
  FROM seq s JOIN st p ON s.symbol = p.symbol AND s.rn = p.rn + 1
)
SELECT symbol, bucket AS epoch, CAST(dir AS INT) AS direction,
       exc AS excursion_c
FROM st WHERE dir <> 0
""",
)
def cusum_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric CUSUM event filter over hourly closes at an 8000-cent
    threshold (operators/quant.cusum_filter): all-integer recursion,
    recursive-CTE oracle, hash-exact."""
    from marketstore_spark.operators.quant import cusum_filter

    return cusum_filter(
        load_table(spark, sf_dir, "events"),
        threshold_c=8000,
        timeframe="1 hour",
    )


@_register(
    "rolling_corr_market",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 hour', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (SELECT bucket, CAST(SUM(close_c) AS BIGINT) AS mkt_c FROM c GROUP BY bucket),
j AS (
  SELECT c.symbol, c.bucket, c.close_c AS x, m.mkt_c AS y
  FROM c JOIN m USING (bucket)
),
g AS (
  -- y-side moments in HUGEINT (int128), mirroring the engine's
  -- DECIMAL(38,0): the market-sum index overflows BIGINT at a large
  -- symbol universe.  x-side stays BIGINT (per-symbol cents).
  SELECT symbol, bucket, x, y,
         ROW_NUMBER() OVER ws AS rn,
         CAST(SUM(x) OVER wf AS BIGINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) OVER wf AS HUGEINT) AS sy,
         CAST(SUM(x * CAST(y AS HUGEINT)) OVER wf AS HUGEINT) AS sxy,
         CAST(SUM(x * x) OVER wf AS BIGINT) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER wf
              AS HUGEINT) AS syy
  FROM j
  WINDOW ws AS (PARTITION BY symbol ORDER BY bucket),
         wf AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bucket AS epoch, x AS close_c, y AS mkt_c,
       CASE WHEN rn >= 24 AND (24 * sxx - sx * sx) > 0
                          AND (24 * syy - sy * sy) > 0
            THEN CAST(CAST(24 * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                 / (sqrt(CAST(CAST(24 * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                    * sqrt(CAST(CAST(24 * syy - sy * sy AS VARCHAR) AS DOUBLE)))
       END AS corr
FROM g
""",
)
def rolling_corr_market_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour rolling Pearson correlation vs the integer market-sum
    index (operators/quant.rolling_corr_vs_market): exact LONG window
    sums, broadcast market join, one mirrored double expression."""
    from marketstore_spark.operators.quant import rolling_corr_vs_market

    return rolling_corr_vs_market(
        load_table(spark, sf_dir, "events"), n=24, timeframe="1 hour"
    )


# =====================================================================
# LLM-data-pipeline round-7 additions: batch-shape planning,
# collocation mining, distributed k-means E-step
# =====================================================================


@_register(
    "corpus_length_buckets",
    """
WITH d AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM documents
),
b AS (
  SELECT n_tok,
    CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
         WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
         WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
         WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END AS bucket,
    CASE WHEN n_tok > 2048
         THEN CAST(CEIL(CAST(n_tok AS DOUBLE) / 2048) AS BIGINT) * 2048
         WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
         WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
         WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
         WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END AS padded
  FROM d
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(padded) AS BIGINT) AS sum_padded,
       1.0 - CAST(SUM(n_tok) AS DOUBLE) / CAST(SUM(padded) AS DOUBLE)
         AS waste_ratio
FROM b GROUP BY bucket
""",
)
def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two sequence-length bucket report with padding-waste
    ratios (operators/sampling.length_bucket_stats): integer CASE
    ladder, wordcount-shaped single aggregate."""
    from marketstore_spark.operators.sampling import length_bucket_stats

    return length_bucket_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "text_bigram_lift",
    """
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents WHERE trim(text) <> ''
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
),
nu AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_uni FROM uni),
nb AS (
  SELECT CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS n_bi FROM toks
),
bg AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE len(tk) >= 2
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
j AS (
  SELECT b.w1, b.w2, b.c_ab, u1.c_w AS c_a, u2.c_w AS c_b,
         (CAST(b.c_ab AS DOUBLE) / nb.n_bi)
         / ((CAST(u1.c_w AS DOUBLE) / nu.n_uni)
            * (CAST(u2.c_w AS DOUBLE) / nu.n_uni)) AS lift
  FROM bc b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
  CROSS JOIN nu CROSS JOIN nb
)
SELECT w1, w2, c_ab, c_a, c_b, lift, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1 ASC, w2 ASC) AS rn
  FROM j
) WHERE rn <= 100
""",
)
def text_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by lift (operators/text.bigram_lift):
    exact counts, broadcast unigram joins, one mirrored float
    division chain."""
    from marketstore_spark.operators.text import bigram_lift

    out = bigram_lift(load_table(spark, sf_dir, "documents"))
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "embedding_kmeans_assign",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, c.cluster, list_cosine_similarity(e.v, c.cv) AS cos_raw
  FROM e CROSS JOIN c
)
SELECT vec_id, cluster, ROUND(cos_raw, 6) AS cosine
FROM (
  -- pick on the 12-dp-rounded cosine, mirroring the engine: raw-float
  -- argmax can flip near-tied centroids across engines (1-ulp dot
  -- product differences)
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ROUND(cos_raw, 12) DESC, cluster ASC) AS rn
  FROM scored
) WHERE rn = 1
""",
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means E-step at k=8 with the deterministic lowest-
    id centroid seed (operators/simsearch.kmeans_assign): broadcast
    centroids, struct-max argmax, no window sort on the fact."""
    from marketstore_spark.operators.simsearch import kmeans_assign

    return kmeans_assign(load_table(spark, sf_dir, "embeddings"), k=8)


# =====================================================================
# Round-8 additions: serial-dependence microstructure estimators
# (Roll spread, return autocorrelation, variance ratio, Kyle lambda,
# VPIN) and per-doc lexical diversity
# =====================================================================


@_register(
    "roll_spread",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol, bucket,
         close_c - LAG(close_c) OVER ws AS move
  FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
p AS (
  SELECT symbol, move AS x, LAG(move) OVER ws AS y
  FROM m WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
g AS (
  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM p WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY symbol
)
SELECT symbol, n AS n_pairs,
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) / CAST(n * n AS DOUBLE)
         AS move_autocov,
       CASE WHEN (n * sxy - sx * sy) < 0 THEN
         2.0 * sqrt(CAST(CAST(-(n * sxy - sx * sy) AS VARCHAR) AS DOUBLE))
             / CAST(n AS DOUBLE)
       END AS roll_spread_c
FROM g
""",
)
def roll_spread_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) implied effective spread from the serial covariance
    of daily close moves (operators/quant.roll_spread): exact LONG
    pair sums, one mirrored double expression per symbol."""
    from marketstore_spark.operators.quant import roll_spread

    return roll_spread(load_table(spark, sf_dir, "events"))


@_register(
    "autocorr_returns",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol, bucket,
         close_c - LAG(close_c) OVER ws AS move
  FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
p AS (
  SELECT symbol, move AS x, LAG(move) OVER ws AS y
  FROM m WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
g AS (
  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(y * y) AS HUGEINT) AS syy
  FROM p WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY symbol
)
SELECT symbol, n AS n_pairs,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
            * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
       END AS autocorr
FROM g
""",
)
def autocorr_returns_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily close moves per symbol
    (operators/quant.autocorr_returns): shared _move_pairs front half
    with roll_spread, exact sums, mirrored Pearson expression."""
    from marketstore_spark.operators.quant import autocorr_returns

    return autocorr_returns(load_table(spark, sf_dir, "events"))


@_register(
    "variance_ratio",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol,
         close_c - LAG(close_c, 1) OVER ws AS m1,
         close_c - LAG(close_c, 5) OVER ws AS mq
  FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
g AS (
  SELECT symbol,
         CAST(COUNT(m1) AS BIGINT) AS n1,
         CAST(SUM(m1) AS HUGEINT) AS sm,
         CAST(SUM(m1 * m1) AS HUGEINT) AS smm,
         CAST(COUNT(mq) AS BIGINT) AS nq,
         CAST(SUM(mq) AS HUGEINT) AS sq,
         CAST(SUM(mq * mq) AS HUGEINT) AS sqq
  FROM m GROUP BY symbol
)
SELECT symbol, n1, nq,
       CASE WHEN nq > 0 AND (n1 * smm - sm * sm) > 0 THEN
         (CAST(CAST(nq * sqq - sq * sq AS VARCHAR) AS DOUBLE) * CAST(n1 * n1 AS DOUBLE))
         / (5.0 * CAST(nq * nq AS DOUBLE)
            * CAST(CAST(n1 * smm - sm * sm AS VARCHAR) AS DOUBLE))
       END AS vr
FROM g
""",
)
def variance_ratio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay VR(5) over daily close moves (operators/quant.
    variance_ratio): one shared lag(1)/lag(5) sort, exact conditional
    LONG sums, one mirrored double expression."""
    from marketstore_spark.operators.quant import variance_ratio

    return variance_ratio(load_table(spark, sf_dir, "events"), q=5)


@_register(
    "kyle_lambda",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol,
         time_bucket(INTERVAL '1 hour', ts) AS bucket
  FROM events
),
d AS (
  SELECT *, CASE WHEN prev IS NULL THEN NULL
                 WHEN px_c > prev THEN 1
                 WHEN px_c < prev THEN -1
                 ELSE NULL END AS dir
  FROM (
    SELECT *, LAG(px_c) OVER (PARTITION BY symbol ORDER BY ts, event_id)
                AS prev
    FROM t
  )
),
s AS (
  SELECT symbol, bucket, ts, event_id, px_c, vol,
         COALESCE(LAST_VALUE(dir IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 0) AS side
  FROM d
),
b AS (
  SELECT symbol, bucket,
         last(px_c ORDER BY ts, event_id) AS close_c,
         CAST(SUM(side * vol) AS BIGINT) AS sv
  FROM s GROUP BY symbol, bucket
),
p AS (
  SELECT symbol,
         close_c - LAG(close_c) OVER wb AS dp,
         CAST(sv AS HUGEINT) AS x
  FROM b WINDOW wb AS (PARTITION BY symbol ORDER BY bucket)
),
g AS (
  -- x-side moments in HUGEINT, mirroring the engine's DECIMAL(38,0):
  -- a hot symbol's bucket volume breaks BIGINT at 100 TB scale
  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(dp) AS BIGINT) AS sy,
         CAST(SUM(x * dp) AS HUGEINT) AS sxy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx
  FROM p WHERE dp IS NOT NULL GROUP BY symbol
)
SELECT symbol, n,
       CASE WHEN (n * sxx - sx * sx) > 0 THEN
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
       END AS kyle_lambda
FROM g
""",
)
def kyle_lambda_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle (1985) price-impact lambda per symbol over hourly buckets
    (operators/quant.kyle_lambda): tick-rule signed volume, exact
    DECIMAL/HUGEINT OLS moment sums, one mirrored double division."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import kyle_lambda

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return kyle_lambda(ev, timeframe="1 hour")


@_register(
    "vpin",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
d AS (
  SELECT *, CASE WHEN prev IS NULL THEN NULL
                 WHEN px_c > prev THEN 1
                 WHEN px_c < prev THEN -1
                 ELSE NULL END AS dir
  FROM (
    SELECT *, LAG(px_c) OVER (PARTITION BY symbol ORDER BY ts, event_id)
                AS prev
    FROM t
  )
),
s AS (
  SELECT symbol, ts, event_id, vol,
         COALESCE(LAST_VALUE(dir IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 0) AS side,
         COALESCE(SUM(vol) OVER (
           PARTITION BY symbol ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           CAST(0 AS BIGINT)) AS cum_before
  FROM d
),
b AS (SELECT *, CAST(cum_before // 2000 AS BIGINT) AS bucket_id FROM s),
per AS (
  SELECT symbol, bucket_id,
         CAST(COALESCE(SUM(CASE WHEN side = 1 THEN vol ELSE 0 END), 0)
              AS BIGINT) AS buy_vol,
         CAST(COALESCE(SUM(CASE WHEN side = -1 THEN vol ELSE 0 END), 0)
              AS BIGINT) AS sell_vol,
         CAST(SUM(vol) AS BIGINT) AS total_vol,
         CAST(COUNT(*) AS BIGINT) AS n_ticks
  FROM b GROUP BY symbol, bucket_id
),
w AS (
  SELECT *,
         abs(buy_vol - sell_vol) AS imbalance,
         ROW_NUMBER() OVER wb AS rn,
         CAST(SUM(abs(buy_vol - sell_vol)) OVER
              (wb ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS si,
         CAST(SUM(total_vol) OVER
              (wb ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS st
  FROM per WINDOW wb AS (PARTITION BY symbol ORDER BY bucket_id)
)
SELECT symbol, bucket_id, buy_vol, sell_vol, total_vol, n_ticks,
       CAST(imbalance AS BIGINT) AS imbalance,
       CASE WHEN rn >= 10 AND st > 0 THEN
         CAST(si AS DOUBLE) / CAST(st AS DOUBLE)
       END AS vpin
FROM w
""",
)
def vpin_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN order-flow toxicity at 2000-share volume buckets, trailing
    10 (operators/bars.vpin): tick-rule signing, exact integer window
    sums, ratio-of-sums (never a float rolling mean)."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.bars import vpin

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return vpin(ev, bucket_volume=2000, n=10)


@_register(
    "text_lexical_diversity",
    """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
  FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
c AS (SELECT doc_id, word, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
a AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT)
           AS n_hapax
  FROM c GROUP BY 1
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       CAST(ROUND(CAST(CAST(n_types / CAST(n_tokens AS DOUBLE) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS ttr,
       CAST(ROUND(CAST(CAST(n_hapax / CAST(n_tokens AS DOUBLE) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS hapax_frac
FROM a
""",
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax fraction per document (operators/text.
    lexical_diversity): per-row HOF run-length fold, no shuffle;
    oracle emulates Spark's shortest-repr rounding."""
    from marketstore_spark.operators.text import lexical_diversity

    return lexical_diversity(load_table(spark, sf_dir, "documents"))


@_register(
    "markout_returns",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 hour', ts) AS bucket
  FROM events
),
d AS (
  SELECT *, CASE WHEN prev IS NULL THEN NULL
                 WHEN px_c > prev THEN 1
                 WHEN px_c < prev THEN -1
                 ELSE NULL END AS dir
  FROM (
    SELECT *, LAG(px_c) OVER (PARTITION BY symbol ORDER BY ts, event_id)
                AS prev
    FROM t
  )
),
s AS (
  SELECT symbol, bucket, ts, event_id, px_c,
         COALESCE(LAST_VALUE(dir IGNORE NULLS) OVER (
           PARTITION BY symbol ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 0) AS side
  FROM d
),
b AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM s GROUP BY symbol, bucket
),
-- wall-clock horizon (the engine's RANGE-window semantics): the
-- future bucket is exactly horizon·timeframe ahead; a missing bucket
-- yields no markout (NOT the close of the 3rd existing bar)
j AS (
  SELECT s.symbol, s.bucket, s.side, s.px_c, b.close_c AS fut_close_c
  FROM s JOIN b ON s.symbol = b.symbol
              AND b.bucket = s.bucket + INTERVAL 3 HOUR
  WHERE s.side <> 0
)
SELECT symbol, bucket AS epoch,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(SUM(side * (fut_close_c - px_c)) AS BIGINT) AS sum_markout_c,
       CAST(SUM(side * (fut_close_c - px_c)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_markout_c
FROM j GROUP BY symbol, bucket
""",
)
def markout_returns_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-signed 3-bucket markout per (symbol, hour) — post-trade
    adverse selection (operators/quant.markout_returns): tick-rule
    sides, exact integer sums, one mirrored double division."""
    from marketstore_spark.operators.quant import markout_returns

    return markout_returns(load_table(spark, sf_dir, "events"))


@_register(
    "intraday_seasonality",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
m AS (
  SELECT symbol, CAST(hour(ts) AS INT) AS hour, vol,
         abs(px_c - LAG(px_c) OVER (PARTITION BY symbol
                                    ORDER BY ts, event_id)) AS absmove
  FROM t
),
g AS (
  SELECT symbol, hour,
         CAST(COUNT(*) AS BIGINT) AS n_ticks,
         CAST(SUM(vol) AS BIGINT) AS total_volume,
         CAST(COUNT(absmove) AS BIGINT) AS n_moves,
         CAST(COALESCE(SUM(absmove), 0) AS BIGINT) AS sum_absmove
  FROM m GROUP BY symbol, hour
)
SELECT symbol, hour, n_ticks, total_volume,
       CAST(total_volume AS DOUBLE) / CAST(n_ticks AS DOUBLE) AS avg_volume,
       CASE WHEN n_moves > 0 THEN
         CAST(sum_absmove AS DOUBLE) / CAST(n_moves AS DOUBLE)
       END AS avg_abs_move_c
FROM g
""",
)
def intraday_seasonality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile per symbol (operators/quant.
    intraday_seasonality): one tick sort + one (symbol, hour)
    aggregate; exact-sum/count averages."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import intraday_seasonality

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return intraday_seasonality(ev)


@_register(
    "corpus_dup_size_histogram",
    """
WITH h AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash
  FROM documents
),
g AS (SELECT text_hash, CAST(COUNT(*) AS BIGINT) AS n_docs FROM h GROUP BY 1)
SELECT n_docs AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs_total,
       CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_removable
FROM g GROUP BY 1
""",
)
def corpus_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (operators/dedup.
    dup_size_histogram): wordcount-of-wordcount second-order
    aggregate, exact LONG counts."""
    from marketstore_spark.operators.dedup import dup_size_histogram

    return dup_size_histogram(load_table(spark, sf_dir, "documents"))


@_register(
    "effective_spread",
    """
WITH q0 AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c
  FROM events WHERE event_type = 'view'
),
q1 AS (
  SELECT user_id, ts,
         (px_c - 1 - (event_id % 4)) + (px_c + 1 + (event_id % 3)) AS mid2
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) AS rn
    FROM q0
  ) WHERE rn = 1
),
t AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT t.user_id, t.ts, t.event_id, t.px_c, q.mid2
  FROM t ASOF LEFT JOIN q1 q
    ON t.user_id = q.user_id AND q.ts <= t.ts
),
d AS (
  SELECT *, CASE WHEN prev IS NULL THEN NULL
                 WHEN px_c > prev THEN 1
                 WHEN px_c < prev THEN -1 END AS dirn
  FROM (
    SELECT *, LAG(px_c) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
    FROM j
  )
),
s AS (
  SELECT *, COALESCE(
    CASE WHEN mid2 IS NULL THEN NULL
         WHEN 2 * px_c > mid2 THEN 1
         WHEN 2 * px_c < mid2 THEN -1 END,
    LAST_VALUE(dirn IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING), 0) AS side
  FROM d
)
SELECT user_id AS symbol,
       time_bucket(INTERVAL '1 hour', ts) AS epoch,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(SUM(side * (2 * px_c - mid2)) AS BIGINT) AS sum_eff_spread_c,
       CAST(SUM(side * (2 * px_c - mid2)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_eff_spread_c
FROM s
WHERE side <> 0 AND mid2 IS NOT NULL
GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
""",
)
def effective_spread_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEC-605-style hourly effective spread (operators/quant.
    effective_spread): lee_ready classification + one bucket
    aggregate; exact doubled-midpoint integers, one double division."""
    from marketstore_spark.operators.quant import effective_spread

    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(8,2)") * 100).cast("long")
    q0 = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", cents.alias("px_c")
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    )
    quotes = (
        q0.withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "ts",
            (
                (F.col("px_c") - 1 - F.pmod(F.col("event_id"), F.lit(4)))
                + (F.col("px_c") + 1 + F.pmod(F.col("event_id"), F.lit(3)))
            ).alias("mid2"),
        )
    )
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", cents.alias("px_c")
    )
    return effective_spread(trades, quotes)


@_register(
    "corpus_filter_funnel",
    """
WITH f AS (
  SELECT CAST(length(text) AS BIGINT) AS n_chars,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS n_words,
         length(text) * 1.0
           / NULLIF(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END, 0)
           AS avg_word_len,
         len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
           / NULLIF(length(text), 0) AS punct_ratio,
         len(regexp_extract_all(text, '[0-9]')) * 1.0
           / NULLIF(length(text), 0) AS digit_ratio
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(CASE WHEN n_words > 0 THEN 1 END) AS BIGINT)
         AS n_nonempty,
       CAST(COUNT(CASE WHEN n_words >= 5 THEN 1 END) AS BIGINT)
         AS n_min_len,
       CAST(COUNT(CASE WHEN n_words >= 5 AND punct_ratio < 0.2
                  THEN 1 END) AS BIGINT) AS n_punct,
       CAST(COUNT(CASE WHEN n_words >= 5 AND punct_ratio < 0.2
                       AND digit_ratio < 0.3 THEN 1 END) AS BIGINT)
         AS n_digit,
       CAST(COUNT(CASE WHEN n_words >= 5 AND punct_ratio < 0.2
                       AND digit_ratio < 0.3 AND avg_word_len < 20.0
                  THEN 1 END) AS BIGINT) AS n_word_len
FROM f
""",
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate attrition funnel (operators/text.filter_funnel):
    one scan reduced to a single row of exact survivor counts per
    cumulative gate."""
    from marketstore_spark.operators.text import filter_funnel

    return filter_funnel(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_length_percentiles",
    """
WITH t AS (
  SELECT lang, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM documents
)
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(CAST(CAST(quantile_cont(n_tok, 0.1) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS p10_tokens,
       CAST(ROUND(CAST(CAST(quantile_cont(n_tok, 0.5) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS p50_tokens,
       CAST(ROUND(CAST(CAST(quantile_cont(n_tok, 0.9) AS VARCHAR)
            AS DECIMAL(35,16)), 6) AS DOUBLE) AS p90_tokens
FROM t GROUP BY lang, source
""",
)
def corpus_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) token-length p10/p50/p90 (operators/
    sampling.length_percentiles): exact interpolated percentiles, the
    percentiles-key bitwise convention; GK sketch is the scale twin."""
    from marketstore_spark.operators.sampling import length_percentiles

    return length_percentiles(load_table(spark, sf_dir, "documents"))


# =====================================================================
# Round-8 second wave: range-based volatility estimators, the high-low
# spread estimator, the Kaufman efficiency ratio, and the per-source
# vocabulary surfaces (overlap matrix + concentration profile)
# =====================================================================


@_register(
    "range_vol",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cd AS (
  SELECT symbol, bucket,
         first(px_c ORDER BY ts, event_id) AS o,
         max(px_c) AS h, min(px_c) AS l,
         last(px_c ORDER BY ts, event_id) AS c
  FROM t GROUP BY symbol, bucket
),
r AS (
  SELECT symbol, bucket, o, h, l, c,
         CASE WHEN l > 0 AND o > 0 AND c > 0
              THEN ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)) END AS hl,
         CASE WHEN l > 0 AND o > 0 AND c > 0
              THEN ln(CAST(c AS DOUBLE) / CAST(o AS DOUBLE)) END AS co,
         CASE WHEN l > 0 AND o > 0 AND c > 0
              THEN ln(CAST(h AS DOUBLE) / CAST(o AS DOUBLE)) END AS ho,
         CASE WHEN l > 0 AND o > 0 AND c > 0
              THEN ln(CAST(l AS DOUBLE) / CAST(o AS DOUBLE)) END AS lo
  FROM cd
)
SELECT symbol, bucket AS epoch, o, h, l, c,
       CAST(ROUND(CAST(CAST(
         hl * hl / 2.772588722239781
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS park_var,
       CAST(ROUND(CAST(CAST(
         0.5 * hl * hl - 0.3862943611198906 * (co * co)
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS gk_var,
       CAST(ROUND(CAST(CAST(
         ho * (ho - co) + lo * (lo - co)
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS rs_var
FROM r
""",
)
def range_vol_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson / Garman–Klass / Rogers–Satchell per-bar variance
    estimators from exact OHLC candle picks (operators/quant.
    range_vol): one candle shuffle, pure projection out — the
    constants are shared decimal literals so neither engine's ln(2)
    enters the contract."""
    from marketstore_spark.operators.quant import range_vol

    return range_vol(load_table(spark, sf_dir, "events"))


@_register(
    "corwin_schultz",
    """
WITH t AS (
  SELECT user_id AS symbol,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cd AS (
  SELECT symbol, bucket, max(px_c) AS h, min(px_c) AS l
  FROM t GROUP BY symbol, bucket
),
s AS (
  SELECT symbol, bucket, h, l,
         LAG(h) OVER ws AS ph, LAG(l) OVER ws AS pl
  FROM cd WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
r AS (
  SELECT symbol, bucket, h, l,
         CASE WHEN l > 0 AND pl > 0
              THEN ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)) END AS r1,
         CASE WHEN l > 0 AND pl > 0
              THEN ln(CAST(ph AS DOUBLE) / CAST(pl AS DOUBLE)) END AS r0,
         CASE WHEN l > 0 AND pl > 0
              THEN ln(CAST(GREATEST(h, ph) AS DOUBLE)
                      / CAST(LEAST(l, pl) AS DOUBLE)) END AS rg
  FROM s WHERE ph IS NOT NULL
),
a AS (
  SELECT symbol, bucket, h, l,
         (sqrt(2.0 * (r1 * r1 + r0 * r0)) - sqrt(r1 * r1 + r0 * r0))
           / 0.1715728752538097
           - sqrt((rg * rg) / 0.1715728752538097) AS alpha
  FROM r
),
o AS (
  SELECT symbol, bucket, h, l,
         CAST(ROUND(CAST(CAST(
           2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha))
         AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS cs_spread
  FROM a
)
SELECT symbol, bucket AS epoch, h, l, cs_spread,
       CASE WHEN cs_spread IS NOT NULL
            THEN GREATEST(cs_spread, 0.0) END AS cs_spread_pos
FROM o
""",
)
def corwin_schultz_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin–Schultz high-low spread estimate per adjacent served-bar
    pair (operators/quant.corwin_schultz): candle shuffle + one
    per-symbol sort for both lags, the β/γ/α/S chain mirrored
    token-for-token."""
    from marketstore_spark.operators.quant import corwin_schultz

    return corwin_schultz(load_table(spark, sf_dir, "events"))


@_register(
    "kaufman_er",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol, bucket, close_c,
         abs(close_c - LAG(close_c, 1) OVER ws) AS mv,
         abs(close_c - LAG(close_c, 10) OVER ws) AS chg,
         row_number() OVER ws AS rn
  FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
s AS (
  SELECT symbol, bucket, close_c, chg, rn,
         SUM(mv) OVER (PARTITION BY symbol ORDER BY bucket
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS path
  FROM m
)
SELECT symbol, bucket AS epoch, close_c,
       CASE WHEN rn > 10 AND path > 0
            THEN CAST(chg AS DOUBLE) / CAST(path AS DOUBLE) END AS er
FROM s
""",
)
def kaufman_er_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman efficiency ratio at n=10 bars (operators/quant.
    kaufman_er): integer numerator and path sum over one shared
    per-symbol sort, ONE double division — no rounding needed."""
    from marketstore_spark.operators.quant import kaufman_er

    return kaufman_er(load_table(spark, sf_dir, "events"), n=10)


@_register(
    "source_token_jaccard",
    """
WITH tk AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
),
v AS (SELECT DISTINCT source, tok FROM tk),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY source),
pair AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, sa.n AS n_a, sb.n AS n_b, p.n_common,
       CAST(p.n_common AS DOUBLE)
         / CAST(sa.n + sb.n - p.n_common AS DOUBLE) AS jaccard
FROM pair p
JOIN sz sa ON p.src_a = sa.source
JOIN sz sb ON p.src_b = sb.source
""",
)
def source_token_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-source vocabulary Jaccard matrix (operators/text.
    source_token_jaccard): hash-distinct vocabulary, token-keyed
    intersection join bounded by sources², broadcast size lookup."""
    from marketstore_spark.operators.text import source_token_jaccard

    return source_token_jaccard(load_table(spark, sf_dir, "documents"))


@_register(
    "source_token_stats",
    """
WITH tk AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
),
c AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY source, tok
),
g AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS c2
  FROM c GROUP BY source
),
top AS (
  SELECT source, tok AS top_tok, c AS top_count FROM (
    SELECT source, tok, c,
           row_number() OVER (PARTITION BY source
                              ORDER BY c DESC, tok DESC) AS rn
    FROM c
  ) WHERE rn = 1
)
SELECT g.source, g.n_tokens, g.vocab, g.n_hapax,
       t.top_tok, CAST(t.top_count AS BIGINT) AS top_count,
       CAST(ROUND(CAST(CAST(
         CAST(CAST(g.c2 AS VARCHAR) AS DOUBLE)
           / (CAST(g.n_tokens AS DOUBLE) * CAST(g.n_tokens AS DOUBLE))
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS simpson,
       CAST(ROUND(CAST(CAST(
         CAST(g.n_tokens AS DOUBLE) * CAST(g.n_tokens AS DOUBLE)
           / CAST(CAST(g.c2 AS VARCHAR) AS DOUBLE)
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS effective_vocab
FROM g JOIN top t ON g.source = t.source
""",
)
def source_token_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary concentration profile (operators/text.
    source_token_stats): wordcount shape, Σc² in DECIMAL(38,0)/
    HUGEINT, Simpson index + effective vocabulary as mirrored double
    expressions."""
    from marketstore_spark.operators.text import source_token_stats

    return source_token_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_vocab_growth",
    """
WITH d AS (
  SELECT source, doc_id // 100 AS bin,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
         END AS n_tok
  FROM documents
),
db AS (
  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM d GROUP BY source, bin
),
tk AS (
  SELECT source, doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
),
fo AS (
  SELECT source, tok, min(doc_id) AS first_doc FROM tk GROUP BY source, tok
),
nt AS (
  SELECT source, first_doc // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS nw
  FROM fo GROUP BY 1, 2
),
j AS (
  SELECT db.source, db.bin, db.n_docs, db.n_tokens,
         CAST(COALESCE(nt.nw, 0) AS BIGINT) AS new_types
  FROM db LEFT JOIN nt ON db.source = nt.source AND db.bin = nt.bin
)
SELECT source, bin, n_docs, n_tokens, new_types,
       CAST(SUM(n_tokens) OVER ws AS BIGINT) AS cum_tokens,
       CAST(SUM(new_types) OVER ws AS BIGINT) AS cum_types
FROM j WINDOW ws AS (PARTITION BY source ORDER BY bin)
""",
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per source over 100-doc-id bins
    (operators/text.vocab_growth): first-occurrence min-id aggregate +
    integer window cumsums — the bin width is the 100 TB skew lever."""
    from marketstore_spark.operators.text import vocab_growth

    return vocab_growth(load_table(spark, sf_dir, "documents"), bin_docs=100)


@_register(
    "embedding_kmeans_update",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, e.v, c.cluster, list_cosine_similarity(e.v, c.cv) AS cos_raw
  FROM e CROSS JOIN c
),
pick AS (
  SELECT vec_id, v, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ROUND(cos_raw, 12) DESC, cluster ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
comp AS (
  SELECT cluster, i AS dim,
         CAST(floor(v[i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM (SELECT cluster, v, unnest(range(len(v))) AS i FROM pick)
)
SELECT cluster, CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
         AS centroid_comp
FROM comp GROUP BY cluster, dim
""",
)
def embedding_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd M-step at k=8 (operators/simsearch.kmeans_update): the
    broadcast E-step assignment, then component-wise centroid means
    over fixed-point-quantized members (floor(x·10⁶+0.5) — exact
    integer sums, one mirrored double chain)."""
    from marketstore_spark.operators.simsearch import kmeans_update

    return kmeans_update(load_table(spark, sf_dir, "embeddings"), k=8)


@_register(
    "realized_moments",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
m AS (
  SELECT symbol, bucket,
         px_c - LAG(px_c) OVER (PARTITION BY symbol, bucket
                                ORDER BY ts, event_id) AS m
  FROM t
),
g AS (
  SELECT symbol, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_moves,
         SUM(CAST(m AS HUGEINT) * m) AS s2,
         SUM(CAST(m AS HUGEINT) * m * m) AS s3,
         SUM(CAST(m AS HUGEINT) * m * m * m) AS s4
  FROM m WHERE m IS NOT NULL GROUP BY symbol, bucket
)
SELECT symbol, bucket AS epoch, n_moves,
       CASE WHEN n_moves >= 2 AND s2 > 0 THEN
         sqrt(CAST(n_moves AS DOUBLE)) * CAST(CAST(s3 AS VARCHAR) AS DOUBLE)
           / (sqrt(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)) * CAST(CAST(s2 AS VARCHAR) AS DOUBLE))
       END AS rskew,
       CASE WHEN n_moves >= 2 AND s2 > 0 THEN
         CAST(n_moves AS DOUBLE) * CAST(CAST(s4 AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) * CAST(CAST(s2 AS VARCHAR) AS DOUBLE))
       END AS rkurt
FROM g
""",
)
def realized_moments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized skewness/kurtosis per (symbol, day) from intraday
    integer-cent moves (operators/quant.realized_moments): exact
    DECIMAL(38,0)/HUGEINT moment sums, sqrt-only normalization —
    (Σm²)^{3/2} as √x·x, never libm pow."""
    from marketstore_spark.operators.quant import realized_moments

    return realized_moments(load_table(spark, sf_dir, "events"))


@_register(
    "corpus_benchmark_coverage",
    """
WITH w AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE trim(text) <> ''
),
sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(words[i+1:i+4], ' ') AS shingle
  FROM (SELECT doc_id, source, words, unnest(range(len(words) - 3)) AS i
        FROM w WHERE len(words) >= 4)
),
bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE source = 'src0'),
tot AS (
  SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM bench GROUP BY 1
),
m AS (
  SELECT DISTINCT b.bench_id, b.shingle
  FROM bench b
  JOIN (SELECT shingle FROM sh WHERE source <> 'src0') c
    ON b.shingle = c.shingle
),
mc AS (
  SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_matched FROM m GROUP BY 1
)
SELECT t.bench_id, t.n_shingles,
       CAST(COALESCE(mc.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(COALESCE(mc.n_matched, 0) AS DOUBLE)
         / CAST(t.n_shingles AS DOUBLE) AS coverage
FROM tot t LEFT JOIN mc ON t.bench_id = mc.bench_id
""",
)
def corpus_benchmark_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side contamination report at 4-gram granularity (source
    'src0' stands in for the eval suite): fraction of each benchmark
    doc's distinct shingles present in the rest of the corpus
    (operators/dedup.benchmark_coverage) — corpus shingles never
    shuffle; only matches do."""
    from marketstore_spark.operators.dedup import benchmark_coverage

    docs = load_table(spark, sf_dir, "documents")
    return benchmark_coverage(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=4,
    )


@_register(
    "trimmed_mean",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
r AS (
  SELECT symbol, bucket, px_c,
         row_number() OVER (PARTITION BY symbol, bucket
                            ORDER BY px_c, ts, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY symbol, bucket) AS n
  FROM t
),
kept AS (
  SELECT symbol, bucket, px_c, n
  FROM r WHERE rk > n * 5 // 100 AND rk <= n - n * 5 // 100
)
SELECT symbol, bucket AS epoch,
       CAST(MAX(n) AS BIGINT) AS n_ticks,
       CAST(COUNT(*) AS BIGINT) AS n_used,
       CAST(SUM(px_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean_c
FROM kept GROUP BY symbol, bucket
""",
)
def trimmed_mean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed daily mean price per symbol (operators/quant.
    trimmed_mean): integer trim count n·5 DIV 100, deterministic rank
    ties, exact kept sum, one double division."""
    from marketstore_spark.operators.quant import trimmed_mean

    return trimmed_mean(load_table(spark, sf_dir, "events"), trim_pct=5)


@_register(
    "mfi",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(props->>'$.k' AS BIGINT) AS volume,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cd AS (
  SELECT symbol, bucket,
         max(px_c) AS h, min(px_c) AS l,
         last(px_c ORDER BY ts, event_id) AS c,
         CAST(SUM(volume) AS BIGINT) AS vol
  FROM t GROUP BY symbol, bucket
),
s AS (
  SELECT symbol, bucket, h + l + c AS tp3,
         CAST(h + l + c AS HUGEINT) * vol AS mf,
         LAG(h + l + c) OVER ws AS ptp,
         row_number() OVER ws AS rn
  FROM cd WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
f AS (
  SELECT symbol, bucket, rn,
         CASE WHEN tp3 > ptp THEN mf ELSE 0 END AS pos,
         CASE WHEN tp3 < ptp THEN mf ELSE 0 END AS neg
  FROM s
),
g AS (
  SELECT symbol, bucket, rn,
         SUM(pos) OVER (PARTITION BY symbol ORDER BY bucket
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sp,
         SUM(neg) OVER (PARTITION BY symbol ORDER BY bucket
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sn
  FROM f
)
SELECT symbol, bucket AS epoch,
       CASE WHEN rn > 14 AND (sp + sn) > 0 THEN
         100.0 * CAST(CAST(sp AS VARCHAR) AS DOUBLE) / CAST(CAST(sp + sn AS VARCHAR) AS DOUBLE)
       END AS mfi
FROM g
""",
)
def mfi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index over daily candles (operators/quant.mfi):
    integer tripled typical price, DECIMAL(38,0)/HUGEINT flow sums,
    MFI as the single-division 100·Σpos/(Σpos+Σneg) form."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import mfi

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return mfi(ev, n=14)


@_register(
    "corpus_sample_fixed_n",
    """
SELECT doc_id, lang, source,
       md5('fixedn|' || CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents
ORDER BY sample_key, doc_id
LIMIT 100
""",
)
def corpus_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100 deterministic sample: the 100 smallest
    md5('fixedn'|doc_id) digests (operators/sampling.fixed_n_sample) —
    the fixed-budget twin of the rate-based corpus_sample; plans as
    TakeOrderedAndProject, never a global sort."""
    from marketstore_spark.operators.sampling import fixed_n_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return fixed_n_sample(docs, n=100)


@_register(
    "cci",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cd AS (
  SELECT symbol, bucket,
         max(px_c) + min(px_c) + last(px_c ORDER BY ts, event_id) AS tp3
  FROM t GROUP BY symbol, bucket
),
s AS (
  SELECT symbol, bucket, tp3,
         CAST(SUM(tp3) OVER fr AS BIGINT) AS sw,
         list(tp3) OVER fr AS arr,
         row_number() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM cd WINDOW fr AS (PARTITION BY symbol ORDER BY bucket
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT symbol, bucket, rn,
         14 * tp3 - sw AS num,
         CAST(list_sum(list_transform(arr, x -> abs(14 * x - sw)))
              AS BIGINT) AS md
  FROM s
)
SELECT symbol, bucket AS epoch,
       CASE WHEN rn >= 14 AND md > 0 THEN
         14.0 * CAST(num AS DOUBLE) / (0.015 * CAST(md AS DOUBLE))
       END AS cci
FROM m
""",
)
def cci_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index at n=14 (operators/quant.cci): the
    mean deviation stays in exact LONGs via the 3n-scaled identity
    Σ|n·3tp_i − S| folded over the window's own integer array —
    no float ever enters an accumulation."""
    from marketstore_spark.operators.quant import cci

    return cci(load_table(spark, sf_dir, "events"), n=14)


@_register(
    "aroon",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cd AS (
  SELECT symbol, bucket, max(px_c) AS h, min(px_c) AS l
  FROM t GROUP BY symbol, bucket
),
r AS (
  SELECT symbol, bucket, h, l,
         row_number() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM cd
),
s AS (
  SELECT symbol, bucket, rn,
         (max(struct_pack(h := h, rn := rn)) OVER fr).rn AS hi_pos,
         (max(struct_pack(nl := -l, rn := rn)) OVER fr).rn AS lo_pos
  FROM r
  WINDOW fr AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
)
SELECT symbol, bucket AS epoch,
       CASE WHEN rn > 25 THEN
         100.0 * (25.0 - CAST(rn - hi_pos AS DOUBLE)) / 25.0
       END AS aroon_up,
       CASE WHEN rn > 25 THEN
         100.0 * (25.0 - CAST(rn - lo_pos AS DOUBLE)) / 25.0
       END AS aroon_down
FROM s
""",
)
def aroon_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down at n=25 (operators/quant.aroon): windowed integer
    ARGMAX via struct max (ties pick the most recent extreme — the
    re-touched-high convention), one double division per output."""
    from marketstore_spark.operators.quant import aroon

    return aroon(load_table(spark, sf_dir, "events"), n=25)


def _adx_sql(n: int = 14) -> str:
    """ADX as ONE recursive CTE carrying four accumulators (rma(+DM),
    rma(−DM), rma(TR), ADX) — the _macd_sql coefficient policy
    (arithmetic construction, never float literals); ±DI/DX are
    recomputed from the carried state in the final select with the
    SAME guarded expressions the engine's fold evaluates."""
    a = f"(CAST(1 AS DOUBLE) / CAST({int(n)} AS DOUBLE))"
    b = f"(CAST(1 AS DOUBLE) - {a})"

    def dip(sdp: str, st: str) -> str:
        return f"CASE WHEN {st} > 0 THEN (100.0 * {sdp}) / {st} ELSE 0.0 END"

    def dx(dp: str, dm: str) -> str:
        return (
            f"CASE WHEN ({dp} + {dm}) > 0 THEN "
            f"(100.0 * ABS({dp} - {dm})) / ({dp} + {dm}) ELSE 0.0 END"
        )

    # seed-state expressions (first DM/TR row)
    s_dp, s_dm, s_t = "CAST(dmp AS DOUBLE)", "CAST(dmm AS DOUBLE)", "CAST(tr AS DOUBLE)"
    seed_dx = dx(dip(s_dp, s_t), dip(s_dm, s_t))
    # recursive-arm state expressions
    r_dp = f"({a} * CAST(e.dmp AS DOUBLE) + {b} * r.sdp)"
    r_dm = f"({a} * CAST(e.dmm AS DOUBLE) + {b} * r.sdm)"
    r_t = f"({a} * CAST(e.tr AS DOUBLE) + {b} * r.st)"
    r_dx = dx(dip(r_dp, r_t), dip(r_dm, r_t))
    return f"""
WITH RECURSIVE
t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
cd AS (
  SELECT symbol, bucket, max(px_c) AS h, min(px_c) AS l,
         last(px_c ORDER BY ts, event_id) AS c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol, bucket, h, l, c,
         LAG(h) OVER ws AS ph, LAG(l) OVER ws AS pl, LAG(c) OVER ws AS pc
  FROM cd WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
d AS (
  SELECT symbol, bucket,
         CASE WHEN (h - ph) > (pl - l) AND (h - ph) > 0
              THEN h - ph ELSE 0 END AS dmp,
         CASE WHEN (pl - l) > (h - ph) AND (pl - l) > 0
              THEN pl - l ELSE 0 END AS dmm,
         GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr,
         row_number() OVER (PARTITION BY symbol ORDER BY bucket) AS rn
  FROM m WHERE ph IS NOT NULL
),
r(symbol, bucket, dmp, dmm, tr, rn, sdp, sdm, st, adx) AS (
  SELECT symbol, bucket, dmp, dmm, tr, rn,
         {s_dp}, {s_dm}, {s_t},
         {seed_dx}
  FROM d WHERE rn = 1
  UNION ALL
  SELECT e.symbol, e.bucket, e.dmp, e.dmm, e.tr, e.rn,
         {r_dp}, {r_dm}, {r_t},
         {a} * {r_dx} + {b} * r.adx
  FROM d e JOIN r ON e.symbol = r.symbol AND e.rn = r.rn + 1
)
SELECT symbol, bucket AS epoch,
       CAST(dmp AS BIGINT) AS dmp, CAST(dmm AS BIGINT) AS dmm,
       CAST(tr AS BIGINT) AS tr,
       {dip("sdp", "st")} AS di_plus,
       {dip("sdm", "st")} AS di_minus,
       {dx(dip("sdp", "st"), dip("sdm", "st"))} AS dx,
       adx
FROM r
"""


@_register("adx", _adx_sql())
def adx_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADX(14) with ±DI and DX (operators/quant.adx): four coupled
    Wilder-RMA recurrences in one partition-streaming mapInPandas
    pass; the oracle replays the identical float64 step chain in a
    single recursive CTE (the ema/macd contract)."""
    from marketstore_spark.operators.quant import adx

    return adx(load_table(spark, sf_dir, "events"), n=14)


@_register(
    "volume_profile",
    """
WITH t AS (
  SELECT user_id AS symbol,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
lv AS (
  SELECT symbol, bucket, px_c // 100 AS level,
         CAST(SUM(vol) AS BIGINT) AS level_volume,
         CAST(COUNT(*) AS BIGINT) AS n_ticks
  FROM t GROUP BY symbol, bucket, level
),
pb AS (
  SELECT symbol, bucket, level AS poc_level, total_volume FROM (
    SELECT symbol, bucket, level,
           CAST(SUM(level_volume) OVER (PARTITION BY symbol, bucket)
                AS BIGINT) AS total_volume,
           row_number() OVER (PARTITION BY symbol, bucket
                              ORDER BY level_volume DESC, level DESC) AS rn
    FROM lv
  ) WHERE rn = 1
)
SELECT l.symbol, l.bucket AS epoch, l.level, l.level_volume, l.n_ticks,
       p.poc_level,
       CASE WHEN p.total_volume > 0 THEN
         CAST(l.level_volume AS DOUBLE) / CAST(p.total_volume AS DOUBLE)
       END AS volume_share
FROM lv l JOIN pb p ON l.symbol = p.symbol AND l.bucket = p.bucket
""",
)
def volume_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-at-price profile with point of control at $1 bins
    (operators/quant.volume_profile): integer level bins, exact LONG
    volumes, struct-max POC with highest-level ties."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import volume_profile

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return volume_profile(ev, bin_cents=100)


@_register(
    "corpus_unigram_nll",
    """
WITH tk AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
),
c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk),
q AS (
  SELECT tok,
         CAST(floor(ln(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM c, n
),
d AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(q.q) AS BIGINT) AS sq
  FROM tk t JOIN q ON t.tok = q.tok GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       -(CAST(sq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 1000000.0 AS nll
FROM d
""",
)
def corpus_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc NLL under the corpus's own unigram LM (operators/text.
    unigram_nll): token log-probs fixed-point quantized once
    (floor(ln(c/N)·10⁶+0.5) — no cross-row float sums), exact integer
    doc sums, one mirrored double chain."""
    from marketstore_spark.operators.text import unigram_nll

    return unigram_nll(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_c4_clean",
    """
WITH f AS (
  SELECT doc_id, text,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
           x -> regexp_matches(x, '[.!?"]\\s*$')
                AND len(regexp_extract_all(x, '\\S+')) >= 3
                AND NOT contains(lower(x), 'javascript')) AS kept
  FROM documents
),
g AS (
  SELECT doc_id,
         -- array_to_string([]) is NULL in DuckDB, '' in Spark's
         -- array_join: normalize to the empty string
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(kept) AS BIGINT) AS n_lines_kept,
         CAST(len(regexp_extract_all(
              coalesce(array_to_string(kept, chr(10)), ''),
              '[.!?]')) AS BIGINT) AS n_sentences,
         CAST(contains(lower(text), 'lorem ipsum') AS INT)
           AS has_lorem_ipsum,
         CAST(contains(text, '{') AS INT) AS has_brace
  FROM f
)
SELECT doc_id, clean_text, n_lines, n_lines_kept, n_sentences,
       has_lorem_ipsum, has_brace,
       CAST(has_lorem_ipsum = 0 AND has_brace = 0 AND n_sentences >= 5
            AS INT) AS keep_doc
FROM g
""",
)
def corpus_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning recipe as a transform (operators/text.c4_clean,
    Raffel 2020 §2.2): line-level terminal-punctuation/3-word/
    javascript filters rebuilt into the cleaned text, page-level
    lorem-ipsum/brace/5-sentence keep decision — hash parity covers
    the rebuilt STRING, not just counts."""
    from marketstore_spark.operators.text import c4_clean

    return c4_clean(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_gopher_rules",
    """
WITH f AS (
  SELECT doc_id,
         lower(text) AS t0,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS words,
         list_filter(string_split(lower(text), chr(10)),
                     l -> regexp_matches(l, '\\S')) AS lines
  FROM documents
),
g AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS w,
    CAST(coalesce(list_sum(list_transform(words,
           x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS sl,
    CAST(len(regexp_extract_all(t0, '#')) AS BIGINT)
      + CAST(len(regexp_extract_all(t0, '\\.\\.\\.')) AS BIGINT)
      + CAST(len(regexp_extract_all(t0, '…')) AS BIGINT) AS syms,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
         AS BIGINT) AS aw,
    CAST(len(list_intersect(list_distinct(words),
         ['the','be','to','of','and','that','have','with']))
         AS BIGINT) AS stop_hits,
    CAST(len(lines) AS BIGINT) AS l,
    CAST(len(list_filter(lines,
         x -> regexp_extract(x, '\\S') IN ('-','*','•'))) AS BIGINT) AS b,
    CAST(len(list_filter(lines,
         x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
         AS BIGINT) AS el,
    CAST(len(list_distinct(lines)) AS BIGINT) AS dl
  FROM f
)
SELECT doc_id,
  w AS n_words, l AS n_lines,
  CASE WHEN w > 0 THEN CAST(sl AS DOUBLE) / CAST(w AS DOUBLE) END
    AS mean_word_len,
  CASE WHEN w > 0 THEN CAST(syms AS DOUBLE) / CAST(w AS DOUBLE) END
    AS symbol_word_ratio,
  CASE WHEN l > 0 THEN CAST(b AS DOUBLE) / CAST(l AS DOUBLE) END
    AS bullet_line_frac,
  CASE WHEN l > 0 THEN CAST(el AS DOUBLE) / CAST(l AS DOUBLE) END
    AS ellipsis_line_frac,
  CASE WHEN l > 0 THEN CAST(l - dl AS DOUBLE) / CAST(l AS DOUBLE) END
    AS dup_line_frac,
  CASE WHEN w > 0 THEN CAST(aw AS DOUBLE) / CAST(w AS DOUBLE) END
    AS alpha_word_frac,
  stop_hits AS stopword_hits,
  CAST(w >= 50 AND w <= 100000 AS INT) AS pass_word_count,
  CAST(w > 0 AND 3*w <= sl AND sl <= 10*w AS INT) AS pass_mean_word_len,
  CAST(w > 0 AND 10*syms <= w AS INT) AS pass_symbol_ratio,
  CAST(l = 0 OR 10*b <= 9*l AS INT) AS pass_bullet_lines,
  CAST(l = 0 OR 10*el <= 3*l AS INT) AS pass_ellipsis_lines,
  CAST(w > 0 AND 5*aw >= 4*w AS INT) AS pass_alpha_words,
  CAST(stop_hits >= 2 AS INT) AS pass_stopwords,
  CAST((w >= 50 AND w <= 100000)
   AND (w > 0 AND 3*w <= sl AND sl <= 10*w)
   AND (w > 0 AND 10*syms <= w)
   AND (l = 0 OR 10*b <= 9*l)
   AND (l = 0 OR 10*el <= 3*l)
   AND (w > 0 AND 5*aw >= 4*w)
   AND stop_hits >= 2 AS INT) AS gopher_pass
FROM g
""",
)
def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (operators/text.gopher_rules,
    Rae 2021 Table A1): line-level and word-shape pass/fail flags plus
    the raw signals, computed entirely row-locally — one scan, zero
    shuffles; all thresholds compared in exact integers."""
    from marketstore_spark.operators.text import gopher_rules

    return gopher_rules(load_table(spark, sf_dir, "documents"))


@_register(
    "corpus_dsir_weights",
    """
WITH tk0 AS (
  SELECT doc_id, (source = 'src0') AS tgt,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
),
tk AS (SELECT * FROM tk0 WHERE tok <> ''),
c AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_r,
         CAST(COUNT(CASE WHEN tgt THEN 1 END) AS BIGINT) AS c_t
  FROM tk GROUP BY tok
),
s AS (
  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, CAST(SUM(c_t) AS BIGINT) AS n_t,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM c
),
q AS (
  SELECT tok,
    CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / CAST(s.n_t + s.v AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)
    - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / CAST(s.n_r + s.v AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT) AS qd
  FROM c, s
),
d AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(q.qd) AS BIGINT) AS sq
  FROM tk t JOIN q ON t.tok = q.tok GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       CAST(sq AS DOUBLE) / 1000000.0 AS log_w,
       (CAST(sq AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE)
         AS avg_log_w
FROM d
""",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the src0 domain (operators/text.
    dsir_weights, Xie 2023): smoothed target-vs-raw unigram log-ratio
    per token, fixed-point quantized once, exact integer doc sums —
    the data-selection score a targeted pretraining mix samples by."""
    from marketstore_spark.operators.text import dsir_weights

    return dsir_weights(
        load_table(spark, sf_dir, "documents"), F.col("source") == "src0"
    )


@_register(
    "corpus_dsir_weights_hashed",
    """
WITH tk0 AS (
  SELECT doc_id, (source = 'src0') AS tgt,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
),
tk AS (
  SELECT doc_id, tgt,
         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096 AS bk
  FROM tk0 WHERE tok <> ''
),
c AS (
  SELECT bk, CAST(COUNT(*) AS BIGINT) AS c_r,
         CAST(COUNT(CASE WHEN tgt THEN 1 END) AS BIGINT) AS c_t
  FROM tk GROUP BY bk
),
s AS (
  SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, CAST(SUM(c_t) AS BIGINT) AS n_t
  FROM c
),
q AS (
  SELECT bk,
    CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / CAST(s.n_t + 4096 AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)
    - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE) / CAST(s.n_r + 4096 AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT) AS qd
  FROM c, s
),
d AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(q.qd) AS BIGINT) AS sq
  FROM tk t JOIN q ON t.bk = q.bk GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       CAST(sq AS DOUBLE) / 1000000.0 AS log_w,
       (CAST(sq AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE)
         AS avg_log_w
FROM d
""",
)
def corpus_dsir_weights_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed-bucket DSIR estimator (operators/text.
    dsir_weights_hashed, Xie 2023 §3) — tokens bucketed md5 % 4096
    before the LM counts, so both unigram models and the broadcast
    q-table are FIXED 4096-cell tables at any corpus size; smoothing
    runs over the buckets (N + B).  The oracle shares the md5 bucket
    hash bit-for-bit, so parity covers the hashing, not just shape."""
    from marketstore_spark.operators.text import dsir_weights_hashed

    return dsir_weights_hashed(
        load_table(spark, sf_dir, "documents"), F.col("source") == "src0"
    )


@_register(
    "liquidity_panel",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol,
         close_c - LAG(close_c, 1) OVER ws AS x,
         LAG(close_c, 1) OVER ws - LAG(close_c, 2) OVER ws AS y,
         close_c - LAG(close_c, 5) OVER ws AS mq
  FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
g AS (
  SELECT symbol,
    CAST(COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END)
         AS BIGINT) AS n_pairs,
    CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN x END),
         0) AS HUGEINT) AS sx,
    CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN y END),
         0) AS HUGEINT) AS sy,
    CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                  THEN x * y END), 0) AS HUGEINT) AS sxy,
    CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                  THEN x * x END), 0) AS HUGEINT) AS sxx,
    CAST(COALESCE(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                  THEN y * y END), 0) AS HUGEINT) AS syy,
    CAST(COUNT(x) AS BIGINT) AS n1,
    CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sm,
    CAST(COALESCE(SUM(x * x), 0) AS HUGEINT) AS smm,
    CAST(COUNT(mq) AS BIGINT) AS nq,
    CAST(COALESCE(SUM(mq), 0) AS HUGEINT) AS sq,
    CAST(COALESCE(SUM(mq * mq), 0) AS HUGEINT) AS sqq
  FROM m GROUP BY symbol
)
SELECT symbol, n_pairs, n1, nq,
  CASE WHEN n_pairs > 0 THEN
    CAST(CAST(n_pairs * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      / CAST(n_pairs * n_pairs AS DOUBLE)
  END AS move_autocov,
  CASE WHEN (n_pairs * sxy - sx * sy) < 0 THEN
    2.0 * sqrt(CAST(CAST(-(n_pairs * sxy - sx * sy) AS VARCHAR) AS DOUBLE))
        / CAST(n_pairs AS DOUBLE)
  END AS roll_spread_c,
  CASE WHEN (n_pairs * sxx - sx * sx) > 0
        AND (n_pairs * syy - sy * sy) > 0 THEN
    CAST(CAST(n_pairs * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      / (sqrt(CAST(CAST(n_pairs * sxx - sx * sx AS VARCHAR) AS DOUBLE))
         * sqrt(CAST(CAST(n_pairs * syy - sy * sy AS VARCHAR) AS DOUBLE)))
  END AS autocorr,
  CASE WHEN nq > 0 AND (n1 * smm - sm * sm) > 0 THEN
    (CAST(CAST(nq * sqq - sq * sq AS VARCHAR) AS DOUBLE) * CAST(n1 * n1 AS DOUBLE))
      / (5.0 * CAST(nq * nq AS DOUBLE)
         * CAST(CAST(n1 * smm - sm * sm AS VARCHAR) AS DOUBLE))
  END AS vr
FROM g
""",
)
def liquidity_panel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll spread + lag-1 autocorrelation + VR(5) per symbol fused
    into ONE scan / one window / one conditional aggregate
    (operators/quant.liquidity_panel) — vs three scans and six
    exchanges for the standalone operators."""
    from marketstore_spark.operators.quant import liquidity_panel

    return liquidity_panel(load_table(spark, sf_dir, "events"), q=5)


@_register(
    "gap_percentiles",
    """
WITH t AS (
  SELECT user_id AS symbol, epoch_us(ts) AS t_us, ts, event_id FROM events
),
g AS (
  SELECT symbol,
         t_us - LAG(t_us) OVER (PARTITION BY symbol
                                ORDER BY ts, event_id) AS gap_us
  FROM t
),
r AS (
  SELECT symbol, gap_us,
         row_number() OVER (PARTITION BY symbol ORDER BY gap_us) AS rk,
         COUNT(*) OVER (PARTITION BY symbol) AS n
  FROM g WHERE gap_us IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       CAST(MAX(CASE WHEN rk = 1 * (n - 1) // 2 + 1 THEN gap_us END)
              * (2 - MAX(1 * (n - 1) % 2))
            + COALESCE(MAX(CASE WHEN rk = 1 * (n - 1) // 2 + 2
                           THEN gap_us END), 0) * MAX(1 * (n - 1) % 2)
         AS DOUBLE) / 2.0 AS p50_gap_us,
       CAST(MAX(CASE WHEN rk = 9 * (n - 1) // 10 + 1 THEN gap_us END)
              * (10 - MAX(9 * (n - 1) % 10))
            + COALESCE(MAX(CASE WHEN rk = 9 * (n - 1) // 10 + 2
                           THEN gap_us END), 0) * MAX(9 * (n - 1) % 10)
         AS DOUBLE) / 10.0 AS p90_gap_us,
       CAST(MAX(CASE WHEN rk = 99 * (n - 1) // 100 + 1 THEN gap_us END)
              * (100 - MAX(99 * (n - 1) % 100))
            + COALESCE(MAX(CASE WHEN rk = 99 * (n - 1) // 100 + 2
                           THEN gap_us END), 0) * MAX(99 * (n - 1) % 100)
         AS DOUBLE) / 100.0 AS p99_gap_us
FROM r GROUP BY symbol
""",
)
def gap_percentiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol inter-tick gap p50/p90/p99 + max (operators/quant.
    gap_percentiles): the feed-health distribution view next to
    uda_gap's threshold detector, on the length_percentiles exact-
    interpolation 6dp contract."""
    from marketstore_spark.operators.quant import gap_percentiles

    return gap_percentiles(load_table(spark, sf_dir, "events"))


@_register(
    "price_impact_curve",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         CAST(props->>'$.k' AS BIGINT) AS vol
  FROM events
),
m AS (
  SELECT symbol, vol,
         abs(px_c - LAG(px_c) OVER (PARTITION BY symbol
                                    ORDER BY ts, event_id)) AS absmove
  FROM t
),
r AS (
  SELECT symbol, vol, absmove,
         row_number() OVER (PARTITION BY symbol
                            ORDER BY vol, absmove) AS rk,
         COUNT(*) OVER (PARTITION BY symbol) AS n
  FROM m WHERE absmove IS NOT NULL
)
SELECT symbol, CAST((rk - 1) * 10 // n AS BIGINT) AS size_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(CAST(SUM(vol) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_volume,
       CAST(CAST(SUM(absmove) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_abs_move_c
FROM r GROUP BY symbol, size_bucket
""",
)
def price_impact_curve_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average |tick move| by trade-size RANK decile per symbol — the
    square-root-impact-law surface (operators/quant.
    price_impact_curve): exact integer decile assignment, LONG sums,
    two single-division averages; tie permutations cannot change
    bucket totals because tied rows are identical in every aggregated
    field."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import price_impact_curve

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return price_impact_curve(ev, n_buckets=10)


def _language_mix_sql() -> str:
    """The _langid_sql marker-argmax CASE with source/label carried,
    rolled up per (source, predicted_lang) with the share and
    label-agreement divisions."""
    from marketstore_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    counts = ",\n         ".join(
        f"len(regexp_extract_all(lower(text), '\\b(?:{'|'.join(LANG_MARKERS[lg])})\\b')) AS {lg}"
        for lg in langs
    )
    case_lines = []
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"{lg} >= {other}" for other in langs[i + 1 :])
        case_lines.append(f"WHEN {conds} THEN '{lg}'")
    case_sql = "\n           ".join(case_lines)
    return f"""
WITH c AS (
  SELECT source, lang,
         {counts}
  FROM documents
),
p AS (
  SELECT source, lang,
         CASE {case_sql}
              ELSE '{langs[-1]}' END AS predicted_lang
  FROM c
),
g AS (
  SELECT source, predicted_lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(CASE WHEN lang = predicted_lang THEN 1 END)
              AS BIGINT) AS n_label_match
  FROM p GROUP BY source, predicted_lang
)
SELECT source, predicted_lang, n_docs, n_label_match,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS share,
       CAST(n_label_match AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS label_agreement
FROM g
"""


@_register("corpus_language_mix", _language_mix_sql())
def corpus_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source predicted-language composition + metadata agreement
    (operators/text.language_mix): the langid marker-argmax inlined so
    source/label ride one projection, exact counts, two single
    divisions."""
    from marketstore_spark.operators.text import language_mix

    return language_mix(load_table(spark, sf_dir, "documents"))


@_register(
    "move_percentiles",
    """
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol,
         close_c - LAG(close_c) OVER (PARTITION BY symbol
                                      ORDER BY bucket) AS move_c
  FROM c
),
r AS (
  SELECT symbol, move_c,
         row_number() OVER (PARTITION BY symbol ORDER BY move_c) AS rk,
         COUNT(*) OVER (PARTITION BY symbol) AS n
  FROM m WHERE move_c IS NOT NULL
)
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(MIN(move_c) AS BIGINT) AS min_move_c,
       CAST(MAX(move_c) AS BIGINT) AS max_move_c,
       CAST(MAX(CASE WHEN rk = 1 * (n - 1) // 100 + 1 THEN move_c END)
              * (100 - MAX(1 * (n - 1) % 100))
            + COALESCE(MAX(CASE WHEN rk = 1 * (n - 1) // 100 + 2
                           THEN move_c END), 0) * MAX(1 * (n - 1) % 100)
         AS DOUBLE) / 100.0 AS p01_move_c,
       CAST(MAX(CASE WHEN rk = 1 * (n - 1) // 2 + 1 THEN move_c END)
              * (2 - MAX(1 * (n - 1) % 2))
            + COALESCE(MAX(CASE WHEN rk = 1 * (n - 1) // 2 + 2
                           THEN move_c END), 0) * MAX(1 * (n - 1) % 2)
         AS DOUBLE) / 2.0 AS p50_move_c,
       CAST(MAX(CASE WHEN rk = 99 * (n - 1) // 100 + 1 THEN move_c END)
              * (100 - MAX(99 * (n - 1) % 100))
            + COALESCE(MAX(CASE WHEN rk = 99 * (n - 1) // 100 + 2
                           THEN move_c END), 0) * MAX(99 * (n - 1) % 100)
         AS DOUBLE) / 100.0 AS p99_move_c
FROM r GROUP BY symbol
""",
)
def move_percentiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol signed daily-move p01/p50/p99 + min/max — the
    historical-VaR surface on the gap_percentiles exact-rational
    interpolation contract (operators/quant.move_percentiles)."""
    from marketstore_spark.operators.quant import move_percentiles

    return move_percentiles(load_table(spark, sf_dir, "events"))


@_register(
    "market_concentration",
    """
WITH t AS (
  SELECT user_id AS symbol,
         time_bucket(INTERVAL '1 day', ts) AS bucket,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT)
           * CAST(props->>'$.k' AS BIGINT) AS dv_c
  FROM events
),
s AS (
  SELECT symbol, bucket, CAST(SUM(dv_c) AS BIGINT) AS dv
  FROM t GROUP BY symbol, bucket
),
g AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_symbols,
         CAST(SUM(dv) AS BIGINT) AS total_dv_c,
         SUM(CAST(dv AS HUGEINT) * dv) AS dv2,
         CAST(MAX(dv) AS BIGINT) AS top_dv
  FROM s GROUP BY bucket
)
SELECT bucket AS epoch, n_symbols, total_dv_c,
       CAST(ROUND(CAST(CAST(
         CASE WHEN total_dv_c > 0 THEN
           CAST(CAST(dv2 AS VARCHAR) AS DOUBLE)
             / (CAST(total_dv_c AS DOUBLE) * CAST(total_dv_c AS DOUBLE))
         END
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS hhi,
       CAST(ROUND(CAST(CAST(
         CASE WHEN dv2 > 0 THEN
           (CAST(total_dv_c AS DOUBLE) * CAST(total_dv_c AS DOUBLE))
             / CAST(CAST(dv2 AS VARCHAR) AS DOUBLE)
         END
       AS VARCHAR) AS DECIMAL(35,16)), 6) AS DOUBLE) AS effective_symbols,
       CASE WHEN total_dv_c > 0 THEN
         CAST(top_dv AS DOUBLE) / CAST(total_dv_c AS DOUBLE)
       END AS top_share
FROM g
""",
)
def market_concentration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily market HHI over per-symbol dollar volume + effective
    symbol count + top share (operators/quant.market_concentration):
    the Simpson-identity exact-integer formulation applied
    cross-sectionally."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.quant import market_concentration

    ev = typed_attrs(load_table(spark, sf_dir, "events")).withColumn(
        "volume", F.col("attrs.k").cast("long")
    )
    return market_concentration(ev)


@_register(
    "dedup_rate_by_source",
    """
WITH h AS (
  SELECT source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS hh
  FROM documents
),
c AS (
  SELECT source, hh, CAST(COUNT(*) AS BIGINT) AS c
  FROM h GROUP BY source, hh
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(c - 1) AS BIGINT) AS n_removable,
       CAST(SUM(c - 1) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_rate
FROM c GROUP BY source
""",
)
def dedup_rate_by_source_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate ledger (operators/dedup.
    dedup_rate_by_source): the exact_dedup_groups normalization
    contract rolled up per source — exact counts, one division."""
    from marketstore_spark.operators.dedup import dedup_rate_by_source

    return dedup_rate_by_source(load_table(spark, sf_dir, "documents"))


def _acf_spectrum_sql(lags: tuple = (1, 2, 3, 5, 10)) -> str:
    """ACF spectrum as one window + one conditional aggregate +
    a per-lag UNION over the aggregate row — mirrors the engine's
    stack unpivot; every sum is an exact LONG."""
    move = {k: f"LAG(close_c, {k}) OVER ws - LAG(close_c, {k + 1}) OVER ws" for k in lags}
    mcols = ",\n         ".join(
        ["close_c - LAG(close_c, 1) OVER ws AS m0"]
        + [f"{move[k]} AS m{k}" for k in lags]
    )

    def sums(k: int) -> str:
        both = f"m0 IS NOT NULL AND m{k} IS NOT NULL"

        def s(expr: str, name: str) -> str:
            return (
                f"CAST(COALESCE(SUM(CASE WHEN {both} THEN {expr} END), 0) "
                f"AS BIGINT) AS {name}_{k}"
            )

        return ",\n         ".join(
            [
                f"CAST(COUNT(CASE WHEN {both} THEN 1 END) AS BIGINT) AS n_{k}",
                s("m0", "sx"),
                s(f"m{k}", "sy"),
                s(f"m0 * m{k}", "sxy"),
                s("m0 * m0", "sxx"),
                s(f"m{k} * m{k}", "syy"),
            ]
        )

    gcols = ",\n         ".join(sums(k) for k in lags)

    def arm(k: int) -> str:
        return f"""
  SELECT symbol, CAST({k} AS BIGINT) AS lag, n_{k} AS n_pairs,
         CASE WHEN (n_{k} * sxx_{k} - sx_{k} * sx_{k}) > 0
               AND (n_{k} * syy_{k} - sy_{k} * sy_{k}) > 0 THEN
           CAST(n_{k} * sxy_{k} - sx_{k} * sy_{k} AS DOUBLE)
             / (sqrt(CAST(n_{k} * sxx_{k} - sx_{k} * sx_{k} AS DOUBLE))
                * sqrt(CAST(n_{k} * syy_{k} - sy_{k} * sy_{k} AS DOUBLE)))
         END AS acf
  FROM g"""

    arms = "\n  UNION ALL".join(arm(k) for k in lags)
    return f"""
WITH t AS (
  SELECT user_id AS symbol, ts, event_id,
         CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS px_c,
         time_bucket(INTERVAL '1 day', ts) AS bucket
  FROM events
),
c AS (
  SELECT symbol, bucket, last(px_c ORDER BY ts, event_id) AS close_c
  FROM t GROUP BY symbol, bucket
),
m AS (
  SELECT symbol,
         {mcols}
  FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket)
),
g AS (
  SELECT symbol,
         {gcols}
  FROM m GROUP BY symbol
)
SELECT * FROM ({arms})
"""


@_register("acf_spectrum", _acf_spectrum_sql())
def acf_spectrum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Move-autocorrelation spectrum at lags 1/2/3/5/10 per symbol —
    the momentum/reversal sign pattern — in ONE window pass and one
    conditional aggregate (operators/quant.acf_spectrum); computing
    the lags separately pays a scan + sort per lag."""
    from marketstore_spark.operators.quant import acf_spectrum

    return acf_spectrum(load_table(spark, sf_dir, "events"))
