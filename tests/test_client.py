"""pymarketstore-shaped client facade: Params/Client/QueryReply
(reference client surface over frontend/query.go + write.go)."""

import os

import pytest
from pyspark.sql import functions as F

from marketstore_spark.catalog import Catalog, load_table
from marketstore_spark.client import Client, Params


@pytest.fixture(scope="module")
def cli(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cliroot"))
    cat = Catalog(spark, root)
    ev = load_table(spark, sf_dir, "events")
    for sym in (1, 2):
        cat.write(f"SYM{sym}/1Min/TICK", ev.filter(F.col("user_id") == sym))
    return Client(cat)


def test_query_range_limit_tail(cli):
    p = Params("SYM1", "1Min", "TICK", start="2024-01-05", end="2024-01-20", limit=9)
    ds = cli.query(p).first()
    pdf = ds.df()
    assert len(pdf) == 9
    # tail semantics: the 9 LAST rows of the range, ascending
    full = cli.catalog.read("SYM1/1Min/TICK").filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") <= "2024-01-20")
    )
    last9 = [r["event_id"] for r in full.orderBy(F.col("ts").desc()).limit(9).collect()]
    assert sorted(pdf["event_id"]) == sorted(last9)
    assert pdf["ts"].is_monotonic_increasing


def test_query_head_and_columns(cli):
    p = Params(
        "SYM1", "1Min", "TICK", limit=5, limit_from_start=True,
        columns=["ts", "value"],
    )
    pdf = cli.query(p).first().df()
    assert list(pdf.columns) == ["ts", "value"] and len(pdf) == 5


def test_multi_symbol_reply(cli):
    p = Params(["SYM1", "SYM2"], "1Min", "TICK", limit=3)
    reply = cli.query(p)
    assert reply.keys() == ["SYM1/1Min/TICK", "SYM2/1Min/TICK"]
    assert all(len(d.df()) == 3 for d in reply.all().values())


def test_function_chain_tickcandler(cli):
    p = Params("SYM1", "1Min", "TICK", functions=["tickcandler('1H',value)"])
    pdf = cli.query(p).first().df()
    assert {"open", "high", "low", "close", "epoch"} <= set(pdf.columns)
    assert len(pdf) > 0


def test_write_and_list_and_destroy(cli, spark):
    src = cli.query(Params("SYM1", "1Min", "TICK", limit=20)).first().df()
    cli.write(src, "NEW/1Min/TICK")
    assert "NEW" in cli.list_symbols()
    assert len(cli.query(Params("NEW", "1Min", "TICK")).first().df()) == 20
    cli.destroy("NEW/1Min/TICK")
    assert "NEW/1Min/TICK" not in cli.catalog.list_buckets()


def test_sql_via_client(cli):
    pdf = cli.sql("SELECT count(*) AS n FROM `SYM1/1Min/TICK`").toPandas()
    assert pdf["n"][0] == cli.catalog.read("SYM1/1Min/TICK").count()


def test_numpy_arrays_output(cli):
    """The reference's npy response format: name→ndarray per column
    with value fidelity vs the pandas path."""
    import numpy as np

    ds = cli.query(Params("SYM1", "1Min", "TICK", limit=25)).first()
    arrs = ds.arrays()
    pdf = ds.df()
    assert set(arrs) == set(pdf.columns)
    for c, a in arrs.items():
        assert isinstance(a, np.ndarray) and len(a) == len(pdf)
    assert np.array_equal(arrs["value"], pdf["value"].to_numpy())


def test_list_symbols_formats_and_hadoop_fs_listing(spark, sf_dir, tmp_path):
    """ListSymbols format=symbol|tbk over a real bucket root, listed
    via the Hadoop FS API (object-store-safe), plus category gathering
    and multi-symbol TimeBucketKey expansion."""
    import os

    from marketstore_spark.catalog import Catalog, TimeBucketKey, load_table

    ev = load_table(spark, sf_dir, "events").limit(100)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    cat.write("TSLA/1Min/TICK", ev)
    cat.write("TSLA/1H/OHLCV", ev)
    cat.write("AAPL/1Min/TICK", ev)

    assert cat.list_symbols() == ["AAPL", "TSLA"]
    assert cat.list_symbols(format="tbk") == [
        "AAPL/1Min/TICK",
        "TSLA/1H/OHLCV",
        "TSLA/1Min/TICK",
    ]
    with pytest.raises(ValueError):
        cat.list_symbols(format="nope")

    cats = cat.gather_categories_and_items()
    assert cats["Symbol"] == {"AAPL", "TSLA"}
    assert cats["Timeframe"] == {"1Min", "1H"}
    assert cats["AttributeGroup"] == {"TICK", "OHLCV"}

    # client pass-through
    client = Client(cat)
    assert client.list_symbols(format="tbk") == cat.list_buckets()

    # multi-symbol destination (frontend/query.go:148)
    tbk = TimeBucketKey("TSLA,AAPL/1Min/TICK")
    assert tbk.symbols == ["TSLA", "AAPL"]
    with pytest.raises(ValueError):
        tbk.path(str(tmp_path))
    # custom key category reorders the slots
    k2 = TimeBucketKey("1Min/TSLA/TICK", key_category="Timeframe/Symbol/AttributeGroup")
    assert (k2.symbol, k2.timeframe, k2.attribute_group) == ("TSLA", "1Min", "TICK")


def test_client_adjust_uda_reads_ca_bucket(spark, tmp_path):
    """The adjust() UDA in a client function chain pulls rate changes
    from the store's CA bucket (caloader analogue)."""
    import datetime as dt
    import os

    from marketstore_spark.catalog import Catalog
    from marketstore_spark.operators.ca import ingest_announcements

    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    prices = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), "AAPL", 100.0),
            (2, dt.datetime(2024, 1, 15), "AAPL", 100.0),
        ],
        "event_id long, ts timestamp, symbol string, value double",
    )
    cat.write("AAPL/1Min/TICK", prices)
    f = tmp_path / "reorg"
    f.write_text("SPLIT|AAPL|2024-01-10|0.5\nDIVIDEND|AAPL|2024-01-20|0.9\n")
    ingest_announcements(cat, str(f))

    client = Client(cat)
    reply = client.query(
        Params("AAPL", "1Min", "TICK", functions=["adjust('split,dividend')"])
    )
    got = {r["ts"].day: r["adjusted"] for r in reply.first().dataframe().collect()}
    assert got[5] == round(100.0 * 0.5 * 0.9, 4)
    assert got[15] == round(100.0 * 0.9, 4)

    # split-only selection
    reply2 = client.query(Params("AAPL", "1Min", "TICK", functions=["adjust('split')"]))
    got2 = {r["ts"].day: r["adjusted"] for r in reply2.first().dataframe().collect()}
    assert got2[5] == 50.0 and got2[15] == 100.0


def test_function_chain_indicators(cli):
    # round-5 indicator UDAs ride the same chain as tickcandler
    p = Params("SYM1", "1Min", "TICK", functions=["ema(12)"])
    pdf = cli.query(p).first().df()
    assert "ema" in pdf.columns and pdf["ema"].notna().all()
    p = Params("SYM1", "1Min", "TICK", functions=["macd(12,26,9)"])
    pdf = cli.query(p).first().df()
    assert {"macd", "signal", "histogram"} <= set(pdf.columns)
    p = Params("SYM1", "1Min", "TICK", functions=["stochastic(5,3)"])
    pdf = cli.query(p).first().df()
    assert {"pct_k", "pct_d"} <= set(pdf.columns)
    p = Params("SYM1", "1Min", "TICK", functions=["twap('1D')"])
    pdf = cli.query(p).first().df()
    assert {"twap", "n_ticks"} <= set(pdf.columns) and len(pdf) > 0


def test_macd_partial_args_fall_back_to_defaults(cli):
    p = Params("SYM1", "1Min", "TICK", functions=["macd(10)"])
    pdf = cli.query(p).first().df()
    assert {"macd", "signal", "histogram"} <= set(pdf.columns)


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_one_bucket_tail_is_a_top_k_through_run_query(cli):
    """A one-bucket tail through Client.query (every wire Query) plans
    the bounded top-K, not a row_number Window, and run_query with no
    symbol column gives the same rows: the two are one planner."""
    from marketstore_spark.plans.query import QueryParams, run_query

    df = cli.query(Params("SYM1", "1Min", "TICK", limit=9)).first().dataframe()
    plan = _executed(df)
    assert "TakeOrderedAndProject" in plan and "Window" not in plan
    direct = run_query(
        cli.catalog.read("SYM1/1Min/TICK"),
        QueryParams(symbols=["SYM1"], symbol_col=None, limit_record_count=9),
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in direct.collect()]


def test_tail_ties_on_ts_break_on_the_remaining_columns(spark, tmp_path):
    """A bucket with no event_id and many rows per ts, written in
    several appends: the last N rows are the same on every run and
    equal a pandas tail sorted by ts, then by every other column."""
    import datetime as dt

    import pandas as pd

    rows = [
        (dt.datetime(2024, 1, 2, 9, i % 4), float(i % 5), i % 3)
        for i in range(60)
    ]
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    for part in (rows[0::3], rows[1::3], rows[2::3]):
        cat.write(
            "TIE/1Min/TICK",
            spark.createDataFrame(part, "ts timestamp, value double, size long"),
        )
    pdf = pd.DataFrame(rows, columns=["ts", "value", "size"])
    want = pdf.sort_values(["ts", "value", "size"]).tail(10)
    want = [tuple(r) for r in want.itertuples(index=False)]
    client = Client(cat)
    for _ in range(3):
        got = client.query(Params("TIE", "1Min", "TICK", limit=10)).first().df()
        assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_one_bucket_range_is_one_job_with_no_exchange(cli, job_group):
    """A one-bucket range collects in one Spark job with no Exchange:
    the plan has no global sort, and ``.df()`` orders the rows on the
    driver instead."""
    ds = cli.query(Params("SYM1", "1Min", "TICK", start="2024-01-05", end="2024-01-20")).first()
    assert "Exchange" not in _executed(ds.dataframe())
    with job_group() as jobs:
        pdf = ds.df()
        assert len(jobs()) == 1
    assert len(pdf) > 1 and pdf["ts"].is_monotonic_increasing


def test_tickcandler_wire_plan_is_a_hash_aggregate(cli):
    """The candle aggregate built from SQL text keeps the packed
    DECIMAL(38,0) ordering key, so it plans as HashAggregate."""
    p = Params("SYM1", "1Min", "TICK", functions=["tickcandler('5Min',value)"])
    plan = _executed(cli.query(p).first().dataframe())
    assert "HashAggregate" in plan and "SortAggregate" not in plan


def test_range_and_candle_plans_take_few_py4j_sends(cli, monkeypatch):
    """Building a range plan and a tickcandler wire plan, bucket read
    included, takes at most half the py4j sends of the Column-API
    builders they replaced: those took 111 and 687 sends on this
    fixture's bucket (two filters and a global sort; about 30 Column
    calls per candle ordering key, and a window, a group-by, an
    aggregate list and three projections)."""
    import pandas as pd
    from py4j.java_gateway import GatewayClient

    sends = [0]
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        sends[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    day0 = pd.Timestamp("2024-01-05")
    day = {"start": day0, "end": day0 + pd.Timedelta(1, "D") - pd.Timedelta(1, "ns")}
    for fns, before in (([], 111), (["tickcandler('5Min',value)"], 687)):
        cli.query(Params("SYM1", "1Min", "TICK", functions=fns, **day))  # warm
        sends[0] = 0
        cli.query(Params("SYM1", "1Min", "TICK", functions=fns, **day))
        assert sends[0] <= before // 2, (fns, sends[0])


@pytest.mark.parametrize("hour", ["1969-12-31 23:00", "2024-01-02 09:00"])
def test_ns_range_bounds_keep_inclusive_us_semantics(spark, tmp_path, hour):
    """Epoch-ns bounds (the wire's) floor to µs and stay inclusive: with
    end = start + 1h - 1ns, a tick at ...59.999999 is in and the next
    hour's first µs is out, before 1970 as after."""
    import pandas as pd

    h, us, hr = pd.Timestamp(hour), pd.Timedelta(1, "us"), pd.Timedelta(1, "h")
    stamps = [h - us, h, h + hr - us, h + hr]
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    cat.write(
        "B/1Sec/TICK",
        spark.createDataFrame(
            [(i, t.to_pydatetime(), 1.0) for i, t in enumerate(stamps)],
            "event_id long, ts timestamp, value double",
        ),
    )
    start = pd.Timestamp(h.value, unit="ns")
    end = pd.Timestamp(h.value + 3600 * 10**9 - 1, unit="ns")
    got = Client(cat).query(Params("B", "1Sec", "TICK", start=start, end=end)).first().df()
    assert list(got["event_id"]) == [1, 2]
