"""JSON-RPC wire frontend (server.py): live-server tests against the
reference's DataService method surface (frontend/server.go /rpc;
query.go:91 Query, write.go Write/Create/GetInfo/Destroy,
query.go:264 ListSymbols)."""

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from marketstore_spark.catalog import Catalog, load_table
from marketstore_spark.server import serve_background


@pytest.fixture(scope="module")
def rpc(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("rpcroot"))
    cat = Catalog(spark, root)
    ev = load_table(spark, sf_dir, "events")
    for sym in (1, 2):
        cat.write(f"SYM{sym}/1Min/TICK", ev.filter(F.col("user_id") == sym))
    srv, _t = serve_background(cat)
    port = srv.server_address[1]

    def call(method, params=None, rid=1):
        body = json.dumps(
            {"jsonrpc": "2.0", "id": rid, "method": method, "params": params or {}}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/rpc",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    call.port = port
    yield call
    srv.shutdown()


def test_list_symbols_and_tbk_format(rpc):
    out = rpc("DataService.ListSymbols")
    assert sorted(out["result"]["results"]) == ["SYM1", "SYM2"]
    tbk = rpc("DataService.ListSymbols", {"format": "tbk"})
    assert "SYM1/1Min/TICK" in tbk["result"]["results"]


def test_query_range_limit_and_epoch_ns(rpc):
    out = rpc(
        "DataService.Query",
        {
            "requests": [
                {
                    "destination": "SYM1/1Min/TICK",
                    "limit_record_count": 7,
                    "columns": ["ts", "value", "event_id"],
                }
            ]
        },
    )
    cs = out["result"]["responses"][0]["result"]["SYM1/1Min/TICK"]
    assert set(cs) == {"ts", "value", "event_id"} and len(cs["value"]) == 7
    # Epoch wire convention: integer nanoseconds, ascending (tail query
    # returns the LAST 7 rows in ascending order)
    assert all(isinstance(v, int) for v in cs["ts"])
    assert cs["ts"] == sorted(cs["ts"])


def test_query_function_chain(rpc):
    out = rpc(
        "DataService.Query",
        {
            "requests": [
                {
                    "destination": "SYM1/1Min/TICK",
                    "functions": ["tickcandler('1H',value)"],
                }
            ]
        },
    )
    cs = out["result"]["responses"][0]["result"]["SYM1/1Min/TICK"]
    assert {"open", "high", "low", "close"} <= set(cs)
    assert len(cs["open"]) > 0


def test_write_getinfo_destroy_roundtrip(rpc):
    ts0 = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns
    rpc(
        "DataService.Write",
        {
            "requests": [
                {
                    "key": "NEW/1Min/TICK",
                    "data": {
                        "columns": {
                            "ts": [ts0, ts0 + 60_000_000_000],
                            "event_id": [1, 2],
                            "value": [1.5, 2.5],
                        },
                        "ts_columns": ["ts"],
                    },
                }
            ]
        },
    )
    info = rpc("DataService.GetInfo", {"requests": [{"key": "NEW/1Min/TICK"}]})
    row = info["result"]["responses"][0]
    assert row["rows"] == 2
    out = rpc("DataService.Destroy", {"requests": [{"key": "NEW/1Min/TICK"}]})
    assert out["result"]["responses"][0]["error"] is None
    listed = rpc("DataService.ListSymbols")["result"]["results"]
    assert "NEW" not in listed


def test_sql_method(rpc):
    out = rpc(
        "DataService.SQL",
        {"statements": ["SELECT COUNT(*) AS n FROM `SYM1/1Min/TICK`"]},
    )
    n = out["result"]["responses"][0]["result"]["n"][0]
    assert n > 0


def test_rpc_errors_keep_server_alive(rpc):
    bad = rpc("DataService.NoSuchMethod")
    assert bad["error"]["code"] == -32601
    boom = rpc("DataService.Query", {"requests": [{"destination": "NOPE/1Min/TICK"}]})
    assert boom["error"]["code"] == -32000
    # still serving after both errors
    ok = rpc("DataService.ListSymbols")
    assert "results" in ok["result"]


def test_concurrent_rpc_queries(rpc):
    """The threaded server shares one SparkSession across handler
    threads (Spark accepts concurrent job submission — the Go-routine-
    per-RPC shape of the reference).  8 parallel queries must all
    succeed and return consistent results."""
    import concurrent.futures as cf

    def one(i):
        out = rpc(
            "DataService.Query",
            {"requests": [{"destination": "SYM1/1Min/TICK",
                           "limit_record_count": 5,
                           "columns": ["ts", "value"]}]},
            rid=i,
        )
        assert "error" not in out or out.get("error") is None
        cs = out["result"]["responses"][0]["result"]["SYM1/1Min/TICK"]
        return tuple(cs["ts"])

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(8)))
    assert len(set(results)) == 1  # all identical


def test_dunder_methods_not_dispatchable(rpc):
    """Only the DataService RPC surface is callable — dunders would let
    one request re-__init__ the service and brick the server."""
    out = rpc("DataService.__init__")
    assert out["error"]["code"] == -32601
    out = rpc("DataService.__class__")
    assert out["error"]["code"] == -32601
    # the service still works afterwards
    assert "results" in rpc("DataService.ListSymbols")["result"]


def test_sql_array_column_serializes(rpc):
    out = rpc(
        "DataService.SQL",
        {"statements": [
            "SELECT user_id, collect_list(event_id) AS ids "
            "FROM `SYM1/1Min/TICK` GROUP BY user_id"
        ]},
    )
    cs = out["result"]["responses"][0]["result"]
    assert isinstance(cs["ids"][0], list) and len(cs["ids"][0]) > 0


def test_non_object_json_body_is_invalid_request(rpc):
    """A JSON-RPC batch array (or any non-object valid-JSON body) must
    get the -32600 invalid-request error, not a raw 500/broken pipe."""
    for body in (b"[1, 2, 3]", b'"just a string"', b"42"):
        req = urllib.request.Request(
            f"http://127.0.0.1:{rpc.port}/rpc",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            out = json.loads(resp.read())
        assert out["error"]["code"] == -32600
    # still serving
    assert "results" in rpc("DataService.ListSymbols")["result"]


def test_nat_timestamp_serializes_as_null(rpc):
    """NaT in a datetime column must serialize as JSON null, not the
    INT64_MIN sentinel astype(int64) would produce."""
    out = rpc(
        "DataService.SQL",
        {"statements": [
            "SELECT CAST(NULL AS TIMESTAMP) AS t, TIMESTAMP '2024-01-02 03:04:05' AS u"
        ]},
    )
    cs = out["result"]["responses"][0]["result"]
    assert cs["t"] == [None]
    assert cs["u"] == [1704164645 * 10**9]


def test_stream_longpoll_subscription(spark, sf_dir, tmp_path_factory):
    """frontend/stream/stream.go analogue: GET /stream long-polls a
    TBK-glob subscription; a micro-batch pushed through the hub while
    the poll is blocked must wake it with the matched rows, and the
    returned cursor must resume past them on the next poll."""
    import json as _json
    import os
    import threading

    from pyspark.sql import functions as F

    from marketstore_spark.streaming.pubsub import StreamHub
    from marketstore_spark.streaming.writer import read_stream

    root = tmp_path_factory.mktemp("streamrpc")
    cat = Catalog(spark, str(root / "cat"))
    hub = StreamHub(key_col="tbk", delivery_root=str(root / "deliveries"))
    srv, _t = serve_background(cat, hub=hub)
    port = srv.server_address[1]
    try:
        def poll(params):
            url = f"http://127.0.0.1:{port}/stream?" + params
            with urllib.request.urlopen(url, timeout=120) as resp:
                return json.loads(resp.read())

        # no hub rows yet: a short poll returns empty at cursor 0
        idle = poll("streams=SYM1/1Min/*&timeout=0.5")
        assert idle["result"] == {"cursor": 0, "payloads": []}

        # long-poll in a thread, THEN push one micro-batch through
        got = {}
        waiter = threading.Thread(
            target=lambda: got.update(poll("streams=SYM1/1Min/*&timeout=30"))
        )
        waiter.start()

        src = str(root / "src")
        os.makedirs(src)
        with open(os.path.join(src, "b0.json"), "w") as fh:
            for row in (
                {"tbk": "SYM1/1Min/TICK", "v": 1},
                {"tbk": "SYM2/1Min/TICK", "v": 2},
                {"tbk": "SYM1/1Min/TICK", "v": 3},
            ):
                fh.write(_json.dumps(row) + "\n")
        stream = spark.readStream.schema("tbk string, v long").json(src)
        q = hub.attach(stream)
        q.awaitTermination(120)
        waiter.join(timeout=120)
        assert not waiter.is_alive()
        rows = got["result"]["payloads"]
        assert sorted(r["v"] for r in rows) == [1, 3]  # glob filtered
        assert all(r["tbk"] == "SYM1/1Min/TICK" for r in rows)

        # resuming from the returned cursor is idle again
        after = poll(f"streams=SYM1/1Min/*&cursor={got['result']['cursor']}&timeout=0.5")
        assert after["result"]["payloads"] == []

        # bad requests
        bad = poll("timeout=0.5")
        assert bad["error"]["code"] == -32602
    finally:
        srv.shutdown()


def test_server_version_rpc(rpc):
    from marketstore_spark import __version__

    out = rpc("DataService.ServerVersion")
    assert out["result"]["version"] == __version__


def test_stream_rejects_nan_and_oob_timeout(spark, tmp_path_factory):
    """timeout=nan passes float() but fails every comparison — without
    the range check the poll loop would spin past a NaN deadline
    forever, pinning its handler thread."""
    root = tmp_path_factory.mktemp("streamnan")
    cat = Catalog(spark, str(root / "cat"))
    from marketstore_spark.streaming.pubsub import StreamHub

    hub = StreamHub(key_col="tbk", delivery_root=str(root / "deliveries"))
    srv, _t = serve_background(cat, hub=hub)
    port = srv.server_address[1]
    try:
        for bad in ("nan", "inf", "-5", "1e9"):
            url = f"http://127.0.0.1:{port}/stream?streams=A/B/C&timeout={bad}"
            with urllib.request.urlopen(url, timeout=30) as resp:
                out = json.loads(resp.read())
            assert out["error"]["code"] == -32602, bad
    finally:
        srv.shutdown()


def test_stream_rejects_negative_cursor(spark, tmp_path_factory):
    """cursor=-1 would skip the long-poll wait AND slice rows[-1:] —
    silently dropping every unseen row before the last one."""
    root = tmp_path_factory.mktemp("streamneg")
    cat = Catalog(spark, str(root / "cat"))
    from marketstore_spark.streaming.pubsub import StreamHub

    hub = StreamHub(key_col="tbk", delivery_root=str(root / "deliveries"))
    srv, _t = serve_background(cat, hub=hub)
    port = srv.server_address[1]
    try:
        url = f"http://127.0.0.1:{port}/stream?streams=A/B/C&cursor=-1&timeout=0.5"
        with urllib.request.urlopen(url, timeout=30) as resp:
            out = json.loads(resp.read())
        assert out["error"]["code"] == -32602
    finally:
        srv.shutdown()


def test_stream_subscriber_cap(spark, tmp_path_factory, monkeypatch):
    """Every distinct glob registers a durable delivery stream; past
    the cap the server must refuse instead of growing delivery disk
    without bound."""
    import marketstore_spark.server as srv_mod

    monkeypatch.setattr(srv_mod, "_MAX_HTTP_SUBSCRIBERS", 2)
    root = tmp_path_factory.mktemp("streamcap")
    cat = Catalog(spark, str(root / "cat"))
    from marketstore_spark.streaming.pubsub import StreamHub

    hub = StreamHub(key_col="tbk", delivery_root=str(root / "deliveries"))
    srv, _t = serve_background(cat, hub=hub)
    port = srv.server_address[1]
    try:
        outs = []
        for glob in ("A/1Min/*", "B/1Min/*", "C/1Min/*"):
            url = f"http://127.0.0.1:{port}/stream?streams={glob}&timeout=0"
            with urllib.request.urlopen(url, timeout=30) as resp:
                outs.append(json.loads(resp.read()))
        assert "result" in outs[0] and "result" in outs[1]
        assert outs[2].get("error", {}).get("code") == -32000
        # an EXISTING glob still polls fine at the cap
        url = f"http://127.0.0.1:{port}/stream?streams=A/1Min/*&timeout=0"
        with urllib.request.urlopen(url, timeout=30) as resp:
            assert "result" in json.loads(resp.read())
    finally:
        srv.shutdown()


def test_metrics_endpoint_counts_rpcs(rpc):
    """GET /metrics serves the Prometheus text registry on the RPC
    listener (the reference mounts promhttp the same way), and RPC
    dispatch feeds per-method counters + latency histograms."""
    rpc("DataService.ServerVersion", {})
    url = f"http://127.0.0.1:{rpc.port}/metrics"
    with urllib.request.urlopen(url, timeout=30) as resp:
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    assert 'rpc_requests_total{method="ServerVersion"}' in text
    assert "rpc_request_seconds" in text  # histogram present


def test_metrics_endpoint_shares_the_catalog_registry(spark, tmp_path):
    """The RPC listener records into the catalog's registry, so
    /metrics shows the catalog's write counters and latencies next to
    the per-method RPC counters."""
    from marketstore_spark.metrics import MetricsRegistry

    m = MetricsRegistry()
    cat = Catalog(spark, str(tmp_path / "root"), metrics=m)
    srv, _t = serve_background(cat)
    port = srv.server_address[1]
    try:
        body = json.dumps(
            {
                "jsonrpc": "2.0", "id": 1, "method": "DataService.Write",
                "params": {"requests": [{"key": "MET/1Min/TICK", "data": {
                    "columns": {"ts": [1_704_067_200_000_000_000], "value": [1.5]},
                    "ts_columns": ["ts"],
                }}]},
            }
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/rpc", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            assert "result" in json.loads(resp.read())
        url = f"http://127.0.0.1:{port}/metrics"
        with urllib.request.urlopen(url, timeout=30) as resp:
            text = resp.read().decode()
    finally:
        srv.shutdown()
    assert 'rpc_requests_total{method="Write"}' in text
    assert "writes_total" in text and "write_duration_seconds" in text
    assert m.snapshot()["counters"]['rpc_requests_total{method="Write"}'] == 1


def test_debug_timings_endpoint(rpc):
    """GET /debug/timings: the pprof-analogue profiling surface
    (frontend/profile.go mounts net/http/pprof on the serving mux) —
    per-RPC latency histograms as JSON, fed by the same registry
    /metrics renders."""
    rpc("DataService.ServerVersion", {})
    url = f"http://127.0.0.1:{rpc.port}/debug/timings"
    with urllib.request.urlopen(url, timeout=30) as resp:
        assert resp.headers["Content-Type"].startswith("application/json")
        body = json.loads(resp.read())
    hists = body["rpc"]
    key = 'rpc_request_seconds{method="ServerVersion"}'
    assert key in hists
    assert hists[key]["count"] >= 1
    assert "buckets" in hists[key]
    assert body["counters"]['rpc_requests_total{method="ServerVersion"}'] >= 1


def test_http_client_end_to_end(rpc):
    """The stdlib wire client (client.HttpClient) drives the live
    server: version, symbol listing, a ranged query lifted to pandas,
    and SQL — the pymarketstore-over-HTTP round trip with no Spark on
    the client side."""
    from marketstore_spark.client import HttpClient

    c = HttpClient(f"http://127.0.0.1:{rpc.port}")
    v = c.server_version()
    assert "version" in json.dumps(v).lower()
    assert sorted(c.list_symbols()) == ["SYM1", "SYM2"]
    res = c.query("SYM1/1Min/TICK", limit_record_count=5, columns=["ts", "value"])
    series = res["SYM1/1Min/TICK"]
    pdf = HttpClient.to_frame(series)
    assert len(pdf) == 5 and {"ts", "value"} <= set(pdf.columns)
    assert pdf["ts"].dtype.kind == "i"  # epoch ns on the wire
    out = c.sql("SELECT count(*) AS n FROM `SYM1/1Min/TICK`")
    assert json.dumps(out)  # structured reply round-trips


def test_http_client_write_create_info_destroy(rpc):
    """The wire client's mutating surface must wrap each call in the
    server's MultiRequest envelope ({'requests': [{'key', ...}]}) —
    flat params iterate an empty list server-side and silently no-op
    (silent data loss).  Round-trip create → write → query-back →
    get_info → destroy against the live server."""
    from marketstore_spark.client import HttpClient

    c = HttpClient(f"http://127.0.0.1:{rpc.port}")
    tbk = "WIRE/1Min/TICK"
    base = 1_600_000_000 * 1_000_000_000
    cols = {
        "ts": [base + i * 60_000_000_000 for i in range(4)],
        "value": [1.0, 2.0, 3.0, 4.0],
    }
    c.create(tbk, {"ts": cols["ts"][:1], "value": cols["value"][:1]})
    c.write(cols, tbk, mode="replace")
    res = c.query(tbk, columns=["ts", "value"])
    pdf = HttpClient.to_frame(res[tbk])
    assert sorted(pdf["value"].tolist()) == [1.0, 2.0, 3.0, 4.0]
    assert pdf["ts"].dtype.kind == "i" and pdf["ts"].min() == base
    info = c.get_info(tbk)
    assert json.dumps(info)  # per-key info dict, not {'responses': []}
    assert "WIRE" in c.list_symbols()
    c.destroy(tbk)
    assert "WIRE" not in c.list_symbols()


def test_write_floors_ns_stamps_to_us_on_the_arrow_path(spark, tmp_path):
    """RPC Write stamps are epoch-ns; Spark keeps µs.  They are stored
    floored to µs (what pyspark's row fallback stored, pre-1970 stamps
    included), and the frame takes the Arrow path with no fallback
    warning."""
    import warnings

    from marketstore_spark.server import DataService

    cat = Catalog(spark, str(tmp_path))
    stamps = [
        1_704_067_200_123_456_789,  # sub-µs digits
        1_704_067_200_000_000_999,
        -1,  # 1969-12-31T23:59:59.999999999
        -1_500,
        -86_400_000_000_001,
        0,
    ]
    req = {
        "key": "NS/1Sec/TICK",
        "data": {"columns": {"ts": stamps, "value": [float(i) for i in range(6)]}},
    }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        DataService(cat).Write({"requests": [req]})
    assert not [w for w in caught if "Arrow optimization" in str(w.message)]
    got = cat.read("NS/1Sec/TICK").select(F.unix_micros("ts").alias("us"), "value")
    stored = {r["value"]: r["us"] for r in got.collect()}
    assert stored == {float(i): ns // 1000 for i, ns in enumerate(stamps)}


@pytest.fixture(scope="module")
def rollup_rpc(spark, tmp_path_factory):
    """A msgpack client of a server over a tick bucket whose ondiskagg
    trigger keeps a 1Min rollup.  Its second day has four times the
    ticks, so that day's rollup file is the larger one, which a scan
    that packs files by size reads first."""
    import datetime as dt

    from marketstore_spark.client import HttpClient
    from marketstore_spark.triggers import OnDiskAggTrigger, TriggerRegistry

    cat = Catalog(spark, str(tmp_path_factory.mktemp("rolluproot")))
    reg = TriggerRegistry()
    reg.register("*/1Sec/TICK", OnDiskAggTrigger(cat, ["1Min"]))
    cat.triggers = reg
    for day, n in ((2, 600), (3, 2400)):
        t0, step = dt.datetime(2024, 1, day), 86400 // n
        rows = [
            (day * 10**6 + i, t0 + dt.timedelta(seconds=i * step), 100.0 + i % 17)
            for i in range(n)
        ]
        cat.write(
            "AAPL/1Sec/TICK",
            spark.createDataFrame(rows, "event_id long, ts timestamp, value double"),
        )
    srv, _t = serve_background(cat)
    yield HttpClient(f"http://127.0.0.1:{srv.server_address[1]}", codec="msgpack")
    srv.shutdown()


def test_rollup_range_and_limit_run_on_epoch(rollup_rpc):
    """A rollup keeps its time in ``epoch``: a range and a limit on it
    resolve that column, and the rows come back in epoch order."""
    import pandas as pd

    key, minute = "AAPL/1Min/TICK", 60 * 10**9
    lo = pd.Timestamp("2024-01-03 10:00").value
    got = rollup_rpc.query(key, epoch_start=lo, epoch_end=lo + 60 * minute - 1)[key]
    assert got["epoch"] == [lo + i * minute for i in range(60)]
    last = pd.Timestamp("2024-01-03 23:59").value
    got = rollup_rpc.query(key, limit_record_count=7)[key]
    assert got["epoch"] == [last - i * minute for i in range(6, -1, -1)]


def test_wire_candles_come_back_in_epoch_order(rollup_rpc):
    """tickcandler and candlecandler through an RPC Query return their
    candles in ascending epoch order."""
    cases = (
        ("AAPL/1Sec/TICK", "tickcandler('5Min',value)", 2 * 288),
        ("AAPL/1Min/TICK", "candlecandler('1H',open,high,low,close)", 2 * 24),
    )
    for key, call, n in cases:
        epochs = rollup_rpc.query(key, functions=[call])[key]["epoch"]
        assert len(epochs) == n and epochs == sorted(set(epochs)), call
