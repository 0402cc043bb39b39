"""Concrete exchange connectors (streaming/connectors.py) — the
contrib/binancefeeder, contrib/polygon and contrib/iex payload→bucket
mappings, exercised against fixture payloads shaped exactly like the
public APIs (the live fetch is injected, per the feeder contract)."""

import datetime as dt
import json
import os

import pytest

from marketstore_spark import txn
from marketstore_spark.catalog import Catalog
from marketstore_spark.streaming.connectors import (
    binance_interval,
    connector_fetch,
    normalize_binance_klines,
    normalize_iex_chart,
    normalize_polygon_aggs,
    normalize_polygon_quotes,
    normalize_polygon_trades,
)
from marketstore_spark.streaming.feeder import ConfiguredFeeder, FeederSpec


def _raw(spark, payload, symbol=None):
    s = payload if isinstance(payload, str) else json.dumps(payload)
    if symbol is not None:
        return spark.createDataFrame([(symbol, s)], ["symbol", "payload"])
    return spark.createDataFrame([(s,)], ["payload"])


# ---------------------------------------------------------------------
# binance (contrib/binancefeeder/binancefeeder.go)
# ---------------------------------------------------------------------

# public /api/v3/klines shape: 12-element arrays, prices as strings
BINANCE_KLINES = [
    [1499040000000, "0.01634790", "0.80000000", "0.01575800", "0.01577100",
     "148976.11427815", 1499644799999, "2434.19055334", 308,
     "1756.87402397", "28.46694368", "17928899.62484339"],
    # openTime == 0 → dropped (binancefeeder.go:336)
    [0, "1.0", "2.0", "0.5", "1.5", "10.0", 1, "1", 1, "1", "1", "0"],
    # empty price string → dropped (binancefeeder.go:336-338)
    [1499040060000, "", "2.0", "0.5", "1.5", "10.0", 1499040119999,
     "1", 1, "1", "1", "0"],
    [1499040060000, "0.016", "0.017", "0.015", "0.0165", "99.5",
     1499040119999, "1", 1, "1", "1", "0"],
]


def test_binance_interval_mapping():
    assert binance_interval("1Min") == "1m"
    assert binance_interval("5Min") == "5m"
    assert binance_interval("4H") == "4h"
    assert binance_interval("1D") == "1d"
    assert binance_interval("1W") == "1w"
    with pytest.raises(ValueError):
        binance_interval("1Sec")
    with pytest.raises(ValueError):
        binance_interval("Min")


def test_binance_klines_normalize(spark):
    out = normalize_binance_klines(_raw(spark, BINANCE_KLINES, "ETHBTC"))
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    assert len(rows) == 2  # zero-openTime and empty-price bars dropped
    r0 = rows[0]
    assert r0["symbol"] == "ETHBTC"
    assert r0["ts"] == dt.datetime(2017, 7, 3, 0, 0)  # 1499040000000 ms UTC
    assert r0["open"] == pytest.approx(0.01634790)
    assert r0["high"] == pytest.approx(0.80)
    assert r0["low"] == pytest.approx(0.015758)
    assert r0["close"] == pytest.approx(0.015771)
    assert r0["volume"] == pytest.approx(148976.11427815)
    assert rows[1]["ts"] == dt.datetime(2017, 7, 3, 0, 1)


# ---------------------------------------------------------------------
# polygon (contrib/polygon/api/schema.go, handlers/handlers.go)
# ---------------------------------------------------------------------

POLYGON_AGGS = {
    "ticker": "AAPL",
    "status": "OK",
    "adjusted": True,
    "queryCount": 2,
    "resultCount": 2,
    "results": [
        {"v": 135647456.0, "o": 74.06, "c": 75.0875, "h": 75.15,
         "l": 73.7975, "t": 1577941200000, "n": 1},
        {"v": 146535512.0, "o": 74.2875, "c": 74.3575, "h": 75.145,
         "l": 74.125, "t": 1578027600000, "n": 2},
    ],
}

POLYGON_EVENTS = [
    {"ev": "T", "sym": "MSFT", "p": 114.125, "s": 100,
     "t": 1536036818784, "c": [0, 12]},
    # official-closing condition 17 → dropped (handlers.go:29-31,54)
    {"ev": "T", "sym": "MSFT", "p": 114.50, "s": 200,
     "t": 1536036818800, "c": [17]},
    # non-positive size / price → dropped (handlers.go:54)
    {"ev": "T", "sym": "MSFT", "p": 114.50, "s": 0, "t": 1536036818900},
    {"ev": "T", "sym": "MSFT", "p": 0.0, "s": 50, "t": 1536036818950},
    {"ev": "Q", "sym": "MSFT", "bp": 114.12, "bs": 100, "ap": 114.13,
     "as": 200, "t": 1536036818784},
]


def test_polygon_aggs_normalize(spark):
    rows = sorted(
        normalize_polygon_aggs(_raw(spark, POLYGON_AGGS)).collect(),
        key=lambda r: r["ts"],
    )
    assert [r["symbol"] for r in rows] == ["AAPL", "AAPL"]
    assert rows[0]["ts"] == dt.datetime(2020, 1, 2, 5, 0)  # t ms → UTC
    assert rows[0]["open"] == pytest.approx(74.06)
    assert rows[0]["close"] == pytest.approx(75.0875)
    assert rows[0]["volume"] == pytest.approx(135647456.0)
    assert rows[0]["trade_count"] == 1
    assert rows[1]["high"] == pytest.approx(75.145)


def test_polygon_trades_condition_filter(spark):
    rows = normalize_polygon_trades(_raw(spark, POLYGON_EVENTS)).collect()
    # one valid print survives: conditions [0,12] are fine, 17 is not,
    # zero size / zero price are not, the quote event is not a trade
    assert len(rows) == 1
    r = rows[0]
    assert r["symbol"] == "MSFT"
    assert r["price"] == pytest.approx(114.125)
    assert r["size"] == 100
    # millisecond precision survives (reference keeps Epoch+Nanoseconds)
    assert r["ts"].microsecond == 784000


def test_polygon_quotes_normalize(spark):
    rows = normalize_polygon_quotes(_raw(spark, POLYGON_EVENTS)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["bid_price"], r["bid_size"]) == (pytest.approx(114.12), 100)
    assert (r["ask_price"], r["ask_size"]) == (pytest.approx(114.13), 200)


# ---------------------------------------------------------------------
# iex (contrib/iex/api/api.go, contrib/iex/iex.go)
# ---------------------------------------------------------------------

IEX_BATCH = {
    "AAPL": {
        "chart": [
            # intraday bar: 2017-04-03 is EDT (UTC-4) → 13:30 UTC
            {"date": "2017-04-03", "minute": "09:30", "open": 143.7,
             "high": 143.75, "low": 143.66, "close": 143.7,
             "volume": 3457, "numberOfTrades": 30, "average": 143.7,
             "notional": 496789.0},
            # zero-volume bar → skipped (iex.go:244)
            {"date": "2017-04-03", "minute": "09:31", "open": 0.0,
             "high": 0.0, "low": 0.0, "close": 0.0, "volume": 0,
             "numberOfTrades": 0, "average": 0.0, "notional": 0.0},
        ]
    },
    "MSFT": {
        # intraday pulls land under intraday-prices (api.go:199-206)
        "intraday-prices": [
            {"date": "2019-12-02", "minute": "10:00", "open": 150.0,
             "high": 150.5, "low": 149.9, "close": 150.2,
             "volume": 1200, "numberOfTrades": 10, "average": 150.1,
             "notional": 180120.0},
        ]
    },
    "IBM": {
        "chart": [
            # daily bar: empty minute → NY midnight (api.go:74-76);
            # 2021-01-15 is EST (UTC-5) → 05:00 UTC
            {"date": "2021-01-15", "minute": "", "open": 128.0,
             "high": 129.5, "low": 127.4, "close": 128.6,
             "volume": 5400000, "numberOfTrades": 0, "average": 128.5,
             "notional": 0.0},
        ]
    },
}


def test_iex_chart_normalize(spark):
    rows = {
        r["symbol"]: r
        for r in normalize_iex_chart(_raw(spark, IEX_BATCH)).collect()
    }
    assert set(rows) == {"AAPL", "MSFT", "IBM"}  # zero-volume bar gone
    # EDT intraday: 09:30 NY == 13:30 UTC
    assert rows["AAPL"]["ts"] == dt.datetime(2017, 4, 3, 13, 30)
    assert rows["AAPL"]["close"] == pytest.approx(143.7)
    # intraday-prices fallback
    assert rows["MSFT"]["ts"] == dt.datetime(2019, 12, 2, 15, 0)
    assert rows["MSFT"]["volume"] == 1200
    # EST daily: NY midnight == 05:00 UTC
    assert rows["IBM"]["ts"] == dt.datetime(2021, 1, 15, 5, 0)
    assert rows["IBM"]["open"] == pytest.approx(128.0)


# ---------------------------------------------------------------------
# end-to-end: connector → ConfiguredFeeder → catalog bucket
# ---------------------------------------------------------------------


def test_connector_fetch_unknown_kind(spark):
    with pytest.raises(ValueError, match="unknown connector"):
        connector_fetch(spark, "nasdaq_itch", lambda *a: [])


def test_binance_feeder_end_to_end(spark, tmp_path):
    calls = []

    def provider(symbols, timeframe, since):
        calls.append((tuple(symbols), timeframe, since))
        return [("ETHBTC", json.dumps(BINANCE_KLINES))]

    fetch = connector_fetch(spark, "binance_klines", provider)
    spec = FeederSpec.from_dict(
        {
            "symbols": ["ETHBTC"],
            "timeframe": "1Min",
            "interval_seconds": 60,
            # market-hours gate irrelevant for crypto: poll every minute
            "off_hours_schedule": list(range(60)),
        }
    )
    cat = Catalog(spark, os.fspath(tmp_path / "cat"))
    clock = iter(
        dt.datetime(2024, 1, 6, 3, m, tzinfo=dt.timezone.utc)  # a Saturday
        for m in (0, 1)
    )
    feeder = ConfiguredFeeder(spec, cat, fetch, clock=lambda: next(clock))
    assert feeder.tick()
    assert feeder.rows_appended == 2
    # second tick refetches the same klines; the HWM append adds nothing
    assert feeder.tick()
    assert feeder.rows_appended == 2
    assert len(calls) == 2

    stored = cat.read("ETHBTC/1Min/OHLCV")
    got = sorted(stored.collect(), key=lambda r: r["ts"])
    assert [r["close"] for r in got] == pytest.approx([0.015771, 0.0165])


# ---------------------------------------------------------------------
# landing-zone path: raw payload files → readStream → normalizer → sink
# ---------------------------------------------------------------------


def test_polygon_landing_zone_stream(spark, tmp_path):
    """The 100 TB ingest shape: raw websocket frames land as text files,
    Structured Streaming reads them, the SAME normalizer used by the
    poll path parses distributively, and the exactly-once sink appends
    the bucket — no Python in the parse loop."""
    import pyspark.sql.functions as F
    from marketstore_spark.streaming.writer import append_sink

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "frame-001.json").write_text(json.dumps(POLYGON_EVENTS))
    (landing / "frame-002.json").write_text(
        json.dumps(
            [
                {"ev": "T", "sym": "MSFT", "p": 115.0, "s": 300,
                 "t": 1536036900000, "c": []},
            ]
        )
    )

    raw = (
        spark.readStream.format("text")
        .schema("value string")
        .load(os.fspath(landing))
        .withColumnRenamed("value", "payload")
    )
    trades = normalize_polygon_trades(raw)
    dest = tmp_path / "buckets" / "MSFT" / "1Min" / "TICK"
    q = append_sink(
        trades.withColumn("ingest_date", F.to_date("ts")),
        os.fspath(dest),
        checkpoint_dir=os.fspath(tmp_path / "ckpt"),
        partition_by=["ingest_date"],
    )
    q.awaitTermination(120)

    got = sorted(
        txn.read_bucket(spark, os.fspath(dest)).collect(), key=lambda r: r["ts"]
    )
    # frame-001 contributes its single valid print, frame-002 one more
    assert [(r["price"], r["size"]) for r in got] == [(114.125, 100), (115.0, 300)]
    m = txn.read_manifest(os.fspath(dest), txn.current_version(os.fspath(dest)))
    assert m["partition_by"] == ["ingest_date"]


# ---------------------------------------------------------------------
# gdax / bitmex / alpaca (contrib/gdaxfeeder, contrib/bitmexfeeder,
# contrib/alpaca — the remaining exchange payload shapes)
# ---------------------------------------------------------------------

from marketstore_spark.streaming.connectors import (  # noqa: E402
    normalize_alpaca_aggregates,
    normalize_alpaca_quotes,
    normalize_alpaca_trades,
    normalize_bitmex_bucketed,
    normalize_gdax_candles,
)

# public /products/<id>/candles shape: [time, low, high, open, close, volume]
GDAX_CANDLES = [
    [1415398768, 0.32, 4.2, 0.35, 4.2, 12.3],
    [1415398828, 0.30, 4.1, 4.2, 0.35, 9.0],
]


def test_gdax_candles_normalize(spark):
    rows = sorted(
        normalize_gdax_candles(_raw(spark, GDAX_CANDLES, "BTC-USD")).collect(),
        key=lambda r: r["ts"],
    )
    assert len(rows) == 2
    r0 = rows[0]
    assert r0["symbol"] == "BTC-USD"
    assert r0["ts"] == dt.datetime(2014, 11, 7, 22, 19, 28)
    # HistoricRate field order: [time, LOW, HIGH, OPEN, close, volume]
    assert (r0["open"], r0["high"], r0["low"], r0["close"]) == (
        pytest.approx(0.35), pytest.approx(4.2),
        pytest.approx(0.32), pytest.approx(4.2),
    )
    assert r0["volume"] == pytest.approx(12.3)


BITMEX_BUCKETED = [
    {"timestamp": "2018-06-01T00:01:00.000Z", "symbol": "XBTUSD",
     "open": 7487.5, "high": 7492.0, "low": 7482.5, "close": 7490.0,
     "trades": 119.0, "volume": 970278.0, "vwap": 7489.2089},
    # malformed timestamp → dropped, not fatal
    {"timestamp": "not-a-time", "symbol": "XBTUSD",
     "open": 1.0, "high": 1.0, "low": 1.0, "close": 1.0,
     "trades": 0.0, "volume": 0.0, "vwap": 0.0},
]


def test_bitmex_bucketed_normalize(spark):
    rows = normalize_bitmex_bucketed(_raw(spark, BITMEX_BUCKETED)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["symbol"] == "XBTUSD"
    assert r["ts"] == dt.datetime(2018, 6, 1, 0, 1)
    assert r["close"] == pytest.approx(7490.0)
    assert r["trades"] == pytest.approx(119.0)
    assert r["vwap"] == pytest.approx(7489.2089)


# alpaca ws envelopes; trade/quote stamps are epoch NANOS
# (contrib/alpaca/handlers/writer.go:20 time.Unix(0, t.Timestamp))
_NS = 1_000_000_000
_T0 = 1_536_036_818 * _NS + 784_123_456

ALPACA_TRADE = {"ev": "T", "data": {"T": "SPY", "x": 4, "p": 286.42,
                                    "s": 100, "t": _T0, "c": [14], "z": 3}}
ALPACA_QUOTE = {"ev": "Q", "data": {"T": "SPY", "x": 17, "p": 286.40,
                                    "s": 1, "X": 2, "P": 286.45, "S": 5,
                                    "t": _T0 + 500}}
ALPACA_AGG = {"ev": "AM", "data": {"T": "SPY", "v": 48526, "o": 286.4,
                                   "h": 286.65, "l": 286.3, "c": 286.6,
                                   "a": 286.5, "vw": 286.55,
                                   "s": 1536036780000, "e": 1536036840000}}


def _alpaca_raw(spark):
    import json as _json

    rows = [( _json.dumps(m),) for m in (ALPACA_TRADE, ALPACA_QUOTE, ALPACA_AGG)]
    return spark.createDataFrame(rows, ["payload"])


def test_alpaca_trades_normalize(spark):
    rows = normalize_alpaca_trades(_alpaca_raw(spark)).collect()
    assert len(rows) == 1  # quote and aggregate envelopes routed away
    r = rows[0]
    assert r["symbol"] == "SPY" and r["size"] == 100
    assert r["price"] == pytest.approx(286.42)
    # ns → µs truncation (Spark timestamp precision)
    assert r["ts"].microsecond == 784123


def test_alpaca_quotes_normalize(spark):
    rows = normalize_alpaca_quotes(_alpaca_raw(spark)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["bid_price"], r["bid_size"]) == (pytest.approx(286.40), 1)
    assert (r["ask_price"], r["ask_size"]) == (pytest.approx(286.45), 5)


def test_alpaca_aggregates_normalize(spark):
    rows = normalize_alpaca_aggregates(_alpaca_raw(spark)).collect()
    assert len(rows) == 1
    r = rows[0]
    # window-start ms; the conflicting data.c (close) parses as double
    assert r["ts"] == dt.datetime(2018, 9, 4, 4, 53)
    assert r["close"] == pytest.approx(286.6)
    assert r["volume"] == 48526 and r["vwap"] == pytest.approx(286.55)


def test_gdax_feeder_end_to_end(spark, tmp_path):
    fetch = connector_fetch(
        spark, "gdax_candles",
        lambda symbols, tf, since: [("BTC-USD", json.dumps(GDAX_CANDLES))],
    )
    spec = FeederSpec.from_dict(
        {"symbols": ["BTC-USD"], "timeframe": "1Min",
         "off_hours_schedule": list(range(60))}
    )
    cat = Catalog(spark, os.fspath(tmp_path / "cat"))
    clock = iter([dt.datetime(2024, 1, 6, 3, 0, tzinfo=dt.timezone.utc)])
    feeder = ConfiguredFeeder(spec, cat, fetch, clock=lambda: next(clock))
    assert feeder.tick() and feeder.rows_appended == 2
    got = cat.read("BTC-USD/1Min/OHLCV")
    assert got.count() == 2


def test_alpaca_ns_to_us_exact_above_double_range(spark):
    """Epoch-ns longs (~1.6e18) exceed double's 2^53 exact-integer
    range, so a double division can floor to the wrong microsecond
    (ADVICE r10).  1617234567123456880 ns is a witness: double math
    yields ...457 µs, the true truncation is ...456 µs — matching the
    reference's time.Unix(0, t)."""
    import json as _json

    ns = 1617234567123456880
    assert int(ns / 1000) != ns // 1000  # the witness really misfloors
    msg = {"ev": "T", "data": {"T": "SPY", "p": 1.0, "s": 1, "t": ns}}
    raw = spark.createDataFrame([(_json.dumps(msg),)], ["payload"])
    r = normalize_alpaca_trades(raw).collect()[0]
    assert r["ts"].microsecond == 123456


# xignite GetQuotes / GetBars / GetQuotesRange responses
# (contrib/xignitefeeder/api/model.go; writer/{quotes,bar,quotes_range}
# _writer.go field mappings — the last contrib feeder payload twin)

from marketstore_spark.streaming.connectors import (
    normalize_xignite_bars,
    normalize_xignite_quotes,
    normalize_xignite_quotes_range,
)

XIGNITE_QUOTES = {
    "Delay": 0.5,
    "Message": "",
    "ArrayOfEquityQuote": [
        {  # UTC+9 (JST) quote: latest of the three datetimes wins
            "Outcome": "Success",
            "Security": {"Symbol": "7203"},
            "Quote": {
                "DateTime": "2019/05/01 11:29:00",
                "Ask": 6672.0, "AskSize": 500.0,
                "AskDateTime": "2019/05/01 11:30:00",
                "Bid": 6670.0, "BidSize": 1200.0,
                "BidDateTime": "2019/05/01 11:28:30",
                "LastMarketDate": "2019/05/01",
                "Last": 6671.0, "LastSize": 100.0,
                "Open": 6650.0, "High": 6680.0, "Low": 6640.0,
                "Close": 6671.0, "PreviousClose": 6648.0,
                "Volume": 1234567,
                "ExchangeOfficialClose": 6671.0,
                "PreviousExchangeOfficialClose": 6648.0,
                "ChangeFromPreviousClose": 23.0,
                "PercentChangeFromPreviousClose": 0.346,
                "UTCOffSet": 9,
            },
        },
        {  # unlisted symbol: empty LastMarketDate → skipped
            "Outcome": "Success",
            "Security": {"Symbol": "9999"},
            "Quote": {"DateTime": "2019/05/01 11:29:00",
                      "LastMarketDate": "", "UTCOffSet": 9},
        },
        {  # error outcome → skipped
            "Outcome": "RequestError",
            "Security": {"Symbol": "0000"},
            "Quote": None,
        },
    ],
}

XIGNITE_BARS = {
    "Outcome": "Success",
    "Delay": 0.0,
    "Message": "",
    "Security": {"Symbol": "7203"},
    "ArrayOfBar": [
        {"StartDateTime": "2019/05/01 11:25:00",
         "EndDateTime": "2019/05/01 11:30:00", "UTCOffSet": 9,
         "Open": 6650.0, "High": 6660.0, "Low": 6645.0, "Close": 6655.0,
         "Volume": 3200.0},
        {"StartDateTime": "", "EndDateTime": "2019/05/01 11:35:00",
         "UTCOffSet": 9, "Open": 1.0, "High": 1.0, "Low": 1.0,
         "Close": 1.0, "Volume": 10.0},  # empty start → skipped
        {"StartDateTime": "2019/05/01 11:30:00",
         "EndDateTime": "2019/05/01 11:35:00", "UTCOffSet": 9,
         "Open": 0.0, "High": 0.0, "Low": 0.0, "Close": 0.0,
         "Volume": 0.0},  # zero volume → skipped unless index
    ],
}

XIGNITE_INDEX_BARS = {
    "Outcome": "Success",
    "Message": "",
    "IndexAndGroup": {"Symbol": "N225"},  # GetIndexBars field spelling
    "ArrayOfBar": [
        {"StartDateTime": "2019/05/01 11:25:00",
         "EndDateTime": "2019/05/01 11:30:00", "UTCOffSet": 9,
         "Open": 22200.0, "High": 22250.0, "Low": 22190.0,
         "Close": 22240.0, "Volume": 0.0},  # index volume always 0
    ],
}

XIGNITE_RANGE = {
    "Outcome": "Success",
    "Message": "",
    "Security": {"Symbol": "7203"},
    "ArrayOfEndOfDayQuote": [
        {"Date": "2019/04/26", "Open": 6600.0, "High": 6650.0,
         "Low": 6580.0, "Close": 6620.0, "ExchangeOfficialClose": 6620.0,
         "PreviousClose": 6590.0, "Volume": 9876543,
         "PreviousExchangeOfficialClose": 6590.0,
         "ChangeFromPreviousClose": 30.0,
         "PercentChangeFromPreviousClose": 0.455},
        {"Date": "", "Open": 1.0, "Volume": 5},  # empty date → skipped
        {"Date": "2019/04/27", "Volume": 0},  # zero volume → skipped
    ],
}


def test_xignite_quotes_normalize(spark):
    rows = normalize_xignite_quotes(_raw(spark, XIGNITE_QUOTES)).collect()
    assert len(rows) == 1  # unlisted + error quotes routed away
    r = rows[0]
    assert r["symbol"] == "7203"
    # latest of the three datetimes (AskDateTime 11:30) minus UTC+9
    assert r["ts"] == dt.datetime(2019, 5, 1, 2, 30)
    assert r["ask"] == pytest.approx(6672.0)
    assert (r["bid_size"], r["last_size"]) == (1200.0, 100.0)
    assert r["volume"] == 1234567
    # DateTime column stored as epoch seconds of the *local* stamp
    # (quotes_writer.go:82 stores DateTime.Unix() unshifted)
    assert r["quote_datetime_epoch"] == int(
        dt.datetime(2019, 5, 1, 11, 29, tzinfo=dt.timezone.utc).timestamp()
    )
    assert r["percent_change_from_previous_close"] == pytest.approx(0.346)


def test_xignite_bars_normalize(spark):
    rows = normalize_xignite_bars(_raw(spark, XIGNITE_BARS)).collect()
    assert len(rows) == 1  # empty-start and zero-volume bars skipped
    r = rows[0]
    assert r["symbol"] == "7203"
    # StartDateTime 11:25 JST → 02:25 UTC (bar_writer.go:72)
    assert r["ts"] == dt.datetime(2019, 5, 1, 2, 25)
    assert r["close"] == pytest.approx(6655.0)
    assert r["volume"] == pytest.approx(3200.0)


def test_xignite_index_bars_keep_zero_volume(spark):
    rows = normalize_xignite_bars(
        _raw(spark, XIGNITE_INDEX_BARS), is_index=True
    ).collect()
    assert len(rows) == 1
    assert rows[0]["symbol"] == "N225"  # IndexAndGroup spelling honored
    assert rows[0]["volume"] == 0.0


def test_xignite_quotes_range_normalize(spark):
    rows = normalize_xignite_quotes_range(_raw(spark, XIGNITE_RANGE)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["symbol"] == "7203"
    assert r["ts"] == dt.datetime(2019, 4, 26)  # UTC midnight epoch
    assert r["exchange_official_close"] == pytest.approx(6620.0)
    assert r["change_from_previous_close"] == pytest.approx(30.0)


def test_xignite_through_connector_fetch(spark):
    """xignite wired through the FeederSpec fetch contract like the
    other seven connectors."""
    fetch = connector_fetch(
        spark, "xignite_bars", lambda syms, tf, since: [XIGNITE_BARS]
    )
    df = fetch(["7203"], "5Min", None)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["symbol"] == "7203"


def test_xignite_list_symbols_rules():
    """symbols/manager.go filtering: Success gate (None = keep the
    previous universe), 5-digit stock skip (equities only),
    not_quote_stock_list skip, {symbol}.{exchange} identifiers."""
    from marketstore_spark.streaming.connectors import xignite_list_symbols

    resp = {
        "Outcome": "Success",
        "ArrayOfSecurityDescription": [
            {"Symbol": "7203"}, {"Symbol": "13010"},  # 5-digit → skipped
            {"Symbol": "9984"}, {"Symbol": ""}, {"Symbol": "8306"},
        ],
    }
    assert xignite_list_symbols(resp, "XTKS", not_quote=["8306"]) == [
        "7203.XTKS", "9984.XTKS",
    ]
    # error outcome → None (reference keeps the previous universe)
    assert xignite_list_symbols({"Outcome": "SystemError"}, "XTKS") is None
    # index universes use ArrayOfIndex and keep long symbols
    idx = {"Outcome": "Success",
           "ArrayOfIndex": [{"Symbol": "151"}, {"Symbol": "INDEX00001"}]}
    assert xignite_list_symbols(idx, "INDXJPX", index=True) == [
        "151.INDXJPX", "INDEX00001.INDXJPX",
    ]


@pytest.mark.parametrize(
    "payload",
    [
        "not json at all",
        "{}",
        '{"Outcome": "Success"}',
        '{"Outcome": "Success", "ArrayOfBar": [{}]}',
        '{"ArrayOfEquityQuote": [{"Outcome": "Success"}]}',
    ],
)
def test_xignite_normalizers_tolerate_garbage(spark, payload):
    """A malformed or empty response produces zero rows, never a
    crashed batch — the from_json NULL path end to end."""
    from marketstore_spark.streaming.connectors import (
        normalize_xignite_bars,
        normalize_xignite_quotes,
        normalize_xignite_quotes_range,
    )

    raw = _raw(spark, payload)
    assert normalize_xignite_quotes(raw).count() == 0
    assert normalize_xignite_bars(raw).count() == 0
    assert normalize_xignite_quotes_range(raw).count() == 0
