"""One UDA registry for both fronts (plans/query.REGISTRY, the
sqlparser/registry.go analogue): Query's function chain (Client.query,
and so every wire Query) and MarketSQL's select list resolve a UDA
through the same entry, so one call returns the same rows, and raises
the same error, from either front — column arguments included."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from marketstore_spark.catalog import Catalog, load_table
from marketstore_spark.client import Client, Params
from marketstore_spark.operators.ca import ingest_announcements
from marketstore_spark.operators.candler import candle_candles, tick_candles
from marketstore_spark.plans.query import QueryParams, parse_call, run_query

CANDLE = ["epoch", "open", "high", "low", "close"]


@pytest.fixture(scope="module")
def cli(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("udareg")
    cat = Catalog(spark, str(root / "root"))
    ev = load_table(spark, sf_dir, "events")
    one = ev.filter(F.col("user_id") == 1)
    cat.write("EV1/1Min/TICK", one)
    cat.write("EV1/1Min/OHLC", tick_candles(one, "1Min", key_cols=(), price_col="value"))
    cat.write("EVALL/1Min/EVENT", ev.filter(F.col("user_id") <= 20))
    cat.write("BARE/1Min/TICK", one.select("ts", "value"))
    # price columns not named value/open/...; the constant `value`
    # column turns a chain that ignores its column arguments into
    # wrong candles rather than an analysis error
    px = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 2, 9, i), float(i + 1)) for i in range(60)],
        "event_id long, ts timestamp, px double",
    ).withColumn("value", F.lit(100.0))
    cat.write("PX/1Min/TICK", px)
    bars = tick_candles(px, "1Min", key_cols=(), price_col="px")
    cat.write(
        "PX/1Min/OHLC",
        bars.select("epoch", *[F.col(c).alias(c[0]) for c in CANDLE[1:]]),
    )
    prices = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5), 100.0), (2, dt.datetime(2024, 1, 15), 100.0)],
        "event_id long, ts timestamp, value double",
    )
    cat.write("AAPL/1D/TICK", prices)
    reorg = root / "reorg"
    reorg.write_text("SPLIT|AAPL|2024-01-10|0.5\nDIVIDEND|AAPL|2024-01-20|0.9\n")
    ingest_announcements(cat, str(reorg))
    return Client(cat)


def _chain(cli, key, call):
    return cli.query(Params(*key.split("/"), functions=[call])).first().dataframe()


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_candlers_honour_column_arguments(cli):
    ticks, bars = cli.catalog.read("PX/1Min/TICK"), cli.catalog.read("PX/1Min/OHLC")
    cases = [
        ("PX/1Min/TICK", "tickcandler('1H', px)",
         tick_candles(ticks, "1H", key_cols=(), price_col="px")),
        ("PX/1Min/OHLC", "candlecandler('1H', o, h, l, c)",
         candle_candles(bars, "1H", key_cols=(), ohlc=("o", "h", "l", "c"))),
    ]
    for key, call, want in cases:
        want = _rows(want, CANDLE)
        assert want == [(dt.datetime(2024, 1, 2, 9), 1.0, 60.0, 1.0, 60.0)]
        chain = _chain(cli, key, call)
        assert "__symbol" not in chain.columns
        assert _rows(chain, CANDLE) == want, f"chain {call}"
        assert _rows(cli.sql(f"SELECT {call} FROM `{key}`"), CANDLE) == want, call


@pytest.mark.parametrize(
    "key, call",
    [
        ("EV1/1Min/TICK", "tickcandler('15Min', value, Sum::event_id)"),
        ("EV1/1Min/OHLC", "candlecandler('1H', open, high, low, close)"),
        ("EV1/1Min/TICK", "gap(1800)"),
        ("EV1/1Min/TICK", "ema(5, value)"),
        ("EV1/1Min/TICK", "macd('5,10,3', value)"),
        ("AAPL/1D/TICK", "adjust('split,dividend', value)"),
        ("EV1/1Min/TICK", "atr('3', '1D', value)"),
        ("EV1/1Min/TICK", "vpin('500', '3', value, event_id)"),
        ("EVALL/1Min/EVENT", "sessions(900)"),
    ],
)
def test_chain_equals_sql(cli, key, call):
    chain = _chain(cli, key, call)
    sql = cli.sql(f"SELECT {call} FROM `{key}`")
    assert chain.columns == sql.columns
    assert chain.count() > 0
    assert chain.exceptAll(sql).count() == 0 and sql.exceptAll(chain).count() == 0


@pytest.mark.parametrize(
    "key, call, match",
    [
        ("EV1/1Min/TICK", "tickrule(value)", "volume"),
        ("EV1/1Min/TICK", "vpin('500', '3', value)", "volume"),
        ("BARE/1Min/TICK", "nbbo('5Min')", "event_id|bid_c"),
        ("EV1/1Min/TICK", "funnel()", "step list"),
        ("BARE/1Min/TICK", "funnel('view')", "user_id"),
        # a token no parameter accepts is refused, not defaulted past
        ("EV1/1Min/TICK", "atr('1H', '3')", "does not take"),
    ],
)
def test_guards_raise_the_same_error_from_both_fronts(cli, key, call, match):
    with pytest.raises(ValueError, match=match) as chain:
        _chain(cli, key, call)
    with pytest.raises(ValueError, match=match) as sql:
        cli.sql(f"SELECT {call} FROM `{key}`")
    assert str(chain.value) == str(sql.value)


@pytest.mark.parametrize(
    "key, call, same_as",
    [
        # the chain once stripped the quotes from every argument, so a
        # quoted name or tag worked where a bare one does
        ("AAPL/1D/TICK", "adjust(split)", "adjust('split')"),
        ("AAPL/1D/TICK", "adjust(split, dividend)", "adjust('split,dividend')"),
        ("PX/1Min/TICK", "max('px')", "max(px)"),
        ("EV1/1Min/TICK", "obv('event_id')", "obv(event_id)"),
        ("PX/1Min/TICK", "tickcandler('1H', 'px')", "tickcandler('1H', px)"),
        ("EV1/1Min/TICK", "tickcandler('1H','Sum::event_id')",
         "tickcandler('1H', value, Sum::event_id)"),
    ],
)
def test_quoted_names_bind_as_the_chain_took_them(cli, key, call, same_as):
    got, want = _chain(cli, key, call), _chain(cli, key, same_as)
    assert got.columns == want.columns
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_sql_limit_zero_returns_no_rows(cli):
    stmt = "SELECT tickcandler('5Min', value) FROM `EV1/1Min/TICK` LIMIT {}"
    assert cli.sql(stmt.format(0)).count() == 0
    assert cli.sql(stmt.format(2)).count() == 2


def test_adjust_needs_a_catalog(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5), 100.0)], "user_id long, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="CA/EVENT/ACTIONS"):
        run_query(df, QueryParams(functions=["adjust('split')"]))


def test_unknown_function_is_named(cli):
    with pytest.raises(ValueError, match="'nosuch'"):
        _chain(cli, "EV1/1Min/TICK", "nosuch(1)")


def test_parse_call_token_classes():
    assert parse_call("TickCandler('5Min', Price, Sum::Volume, 12)") == (
        "tickcandler", ["5Min", "12"], ["Sum::Volume"], ["Price"],
    )


def test_run_query_chain_keys_by_symbol_column(spark, sf_dir):
    """run_query folds its chain through the same registry, keyed by
    the frame's symbol column (many symbols per frame)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isin(1, 2, 3))
    got = run_query(ev, QueryParams(functions=["tickcandler('1D', value)"]))
    want = tick_candles(ev, "1D")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    twap = run_query(ev, QueryParams(functions=["twap('1D')"]))
    assert {r["symbol"] for r in twap.collect()} == {1, 2, 3}


def test_run_query_on_one_bucket_is_the_client_planner(cli):
    """With symbol_col=None, run_query plans one bucket as Client.query
    does: no symbol filter, and adjust() finds the CA bucket through the
    catalog it is given.  The rows come back in ts order from
    ``.df()``, where the order contract lives."""
    cat = cli.catalog
    p = QueryParams(
        symbols=["AAPL"], symbol_col=None, functions=["adjust('split,dividend')"]
    )
    got = run_query(cat.read("AAPL/1D/TICK"), p, cat)
    want = _chain(cli, "AAPL/1D/TICK", "adjust('split,dividend')")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    pdf = cli.query(
        Params("AAPL", "1D", "TICK", functions=["adjust('split,dividend')"])
    ).first().df()
    assert [t.day for t in pdf["ts"]] == [5, 15]
