"""gRPC front end (grpcfront.py + http2lite.py + hpacklite.py +
protowire.py) — the frontend/grpc.go twin: protobuf wire golden
vectors, HPACK RFC 7541 Appendix C stories, HTTP/2 flow control, and
live-socket unary RPCs against a DataService."""

import datetime as dt
from fractions import Fraction

import pandas as pd
import pytest

from marketstore_spark import protowire
from marketstore_spark.hpacklite import (
    Decoder,
    Encoder,
    HUFFMAN_TABLE,
    huffman_decode,
    huffman_encode,
)


# ---------------------------------------------------------------------
# protobuf wire format
# ---------------------------------------------------------------------


def test_protowire_varint_golden():
    # protobuf encoding docs: field 1 varint 150 == 08 96 01; here
    # field 5 (epoch_start) == tag 0x28
    assert protowire.encode("QueryRequest", {"epoch_start": 150}).hex() == "289601"


def test_protowire_string_golden():
    # docs example: field 1 string "testing" == 0a 07 "testing"
    assert (
        protowire.encode("ListSymbolsResponse", {"results": ["testing"]}).hex()
        == "0a0774657374696e67"
    )


def test_protowire_negative_ints():
    b = protowire.encode("QueryRequest", {"epoch_start": -5})
    # negative varints are 64-bit two's complement: always 10 bytes
    assert len(b) == 1 + 10
    assert protowire.decode("QueryRequest", b)["epoch_start"] == -5
    b = protowire.encode("QueryRequest", {"limit_record_count": -1})
    assert protowire.decode("QueryRequest", b)["limit_record_count"] == -1


def test_protowire_map_and_nested_roundtrip():
    req = {
        "requests": [
            {
                "data": {
                    "data": {
                        "column_types": ["i8", "f8"],
                        "column_names": ["ts", "close"],
                        "column_data": [b"\x00" * 16, b"\x01" * 16],
                        "length": 2,
                        "data_shapes": [{"name": "close", "type": "f8"}],
                    },
                    "start_index": {"X/1Min/OHLCV": 0, "Y/1Min/OHLCV": 2},
                    "lengths": {"X/1Min/OHLCV": 2},
                },
                "is_variable_length": True,
            }
        ]
    }
    d = protowire.decode("MultiWriteRequest", protowire.encode("MultiWriteRequest", req))
    w = d["requests"][0]
    assert w["is_variable_length"] is True
    assert w["data"]["start_index"] == {"X/1Min/OHLCV": 0, "Y/1Min/OHLCV": 2}
    assert w["data"]["data"]["column_data"][1] == b"\x01" * 16
    assert w["data"]["data"]["data_shapes"] == [{"name": "close", "type": "f8"}]


def test_protowire_unknown_field_skipped_and_defaults_filled():
    blob = protowire.encode("ServerVersionResponse", {"version": "1.0"})
    blob += bytes([15 << 3 | 0, 42])  # unknown field 15, varint 42
    assert protowire.decode("ServerVersionResponse", blob)["version"] == "1.0"
    d = protowire.decode("QueryRequest", b"")
    assert d["columns"] == [] and d["destination"] == ""
    assert d["is_sql_statement"] is False and d["epoch_start"] == 0


def test_protowire_truncated_raises():
    with pytest.raises(ValueError):
        protowire.decode("ServerVersionResponse", b"\x0a\x10abc")


# ---------------------------------------------------------------------
# HPACK — huffman table structure + RFC 7541 vectors
# ---------------------------------------------------------------------


def test_huffman_table_is_complete_prefix_code():
    # Kraft equality == the 257-symbol code tree is exactly full
    assert sum(Fraction(1, 2 ** n) for _, n in HUFFMAN_TABLE) == 1
    for i, (ca, la) in enumerate(HUFFMAN_TABLE):
        for j, (cb, lb) in enumerate(HUFFMAN_TABLE):
            if i != j and lb > la:
                assert (cb >> (lb - la)) != ca, (i, j)


@pytest.mark.parametrize(
    ("text", "hexs"),
    [
        ("www.example.com", "f1e3c2e5f23a6ba0ab90f4ff"),  # C.4.1
        ("no-cache", "a8eb10649cbf"),  # C.4.2
        ("custom-key", "25a849e95ba97d7f"),  # C.4.3
        ("custom-value", "25a849e95bb8e8b4bf"),  # C.4.3
        ("302", "6402"),  # C.6.1
        ("private", "aec3771a4b"),  # C.6.1
        ("Mon, 21 Oct 2013 20:13:21 GMT",
         "d07abe941054d444a8200595040b8166e082a62d1bff"),  # C.6.1
        ("https://www.example.com", "9d29ad171863c78f0b97c8e9ae82ae43d3"),
        ("307", "640eff"),  # C.6.2
        ("gzip", "9bd9ab"),  # C.6.3
        ("foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1",
         "94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1ab270fb5"
         "291f9587316065c003ed4ee5b1063d5007"),  # C.6.3
    ],
)
def test_huffman_rfc7541_vectors(text, hexs):
    assert huffman_encode(text.encode()).hex() == hexs
    assert huffman_decode(bytes.fromhex(hexs)) == text.encode()


def test_huffman_all_bytes_roundtrip():
    blob = bytes(range(256)) * 3
    assert huffman_decode(huffman_encode(blob)) == blob


def test_huffman_bad_padding_rejected():
    # 'a' = 00011 + pad must be all-ones; pad a zero bit instead
    with pytest.raises(ValueError):
        huffman_decode(bytes([0b00011_010]))


def test_hpack_c3_c4_request_stories():
    plain = [
        "828684410f7777772e6578616d706c652e636f6d",
        "828684be58086e6f2d6361636865",
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565",
    ]
    huff = [
        "828684418cf1e3c2e5f23a6ba0ab90f4ff",
        "828684be5886a8eb10649cbf",
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf",
    ]
    want_last = [
        (":method", "GET"),
        (":scheme", "https"),
        (":path", "/index.html"),
        (":authority", "www.example.com"),
        ("custom-key", "custom-value"),
    ]
    for blocks in (plain, huff):
        d = Decoder()
        out = [d.decode(bytes.fromhex(b)) for b in blocks]
        assert out[0][0] == (":method", "GET")
        assert out[1][-1] == ("cache-control", "no-cache")
        assert out[2] == want_last
        assert d.size == 164  # dynamic table state per C.3.3/C.4.3


def test_hpack_c5_c6_response_stories_with_eviction():
    plain = [
        "4803333032580770726976617465611d4d6f6e2c203231204f63742032"
        "3031332032303a31333a323120474d546e1768747470733a2f2f777777"
        "2e6578616d706c652e636f6d",
        "4803333037c1c0bf",
        "88c1611d4d6f6e2c203231204f637420323031332032303a31333a3232"
        "20474d54c05a04677a69707738666f6f3d4153444a4b48514b425a584f"
        "5157454f50495541585157454f49553b206d61782d6167653d33363030"
        "3b2076657273696f6e3d31",
    ]
    huff = [
        "488264025885aec3771a4b6196d07abe941054d444a8200595040b8166"
        "e082a62d1bff6e919d29ad171863c78f0b97c8e9ae82ae43d3",
        "4883640effc1c0bf",
        "88c16196d07abe941054d444a8200595040b8166e084a62d1bffc05a83"
        "9bd9ab77ad94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1"
        "ab270fb5291f9587316065c003ed4ee5b1063d5007",
    ]
    for blocks in (plain, huff):
        d = Decoder(max_table_size=256)
        r1 = d.decode(bytes.fromhex(blocks[0]))
        assert r1[0] == (":status", "302") and d.size == 222
        r2 = d.decode(bytes.fromhex(blocks[1]))
        # :status 302 was evicted; the rest re-resolve from the table
        assert r2[0] == (":status", "307") and r2[1:] == r1[1:]
        assert d.size == 222
        r3 = d.decode(bytes.fromhex(blocks[2]))
        assert r3[0] == (":status", "200")
        assert r3[-1][0] == "set-cookie" and d.size == 215


def test_hpack_encoder_decoder_roundtrip():
    headers = [
        (":status", "200"),
        ("content-type", "application/grpc"),
        ("grpc-status", "0"),
        ("x-custom-header", "Value With CAPS and :colons:"),
    ]
    for huffman in (False, True):
        out = Decoder().decode(Encoder(huffman=huffman).encode(headers))
        assert out == [(n.lower(), v) for n, v in headers]


def test_hpack_rejects_bad_index():
    with pytest.raises(ValueError):
        Decoder().decode(bytes([0x80 | 127, 200]))  # far beyond table


# ---------------------------------------------------------------------
# live gRPC service
# ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def grpc_stack(spark, tmp_path_factory):
    from marketstore_spark.catalog import Catalog
    from marketstore_spark.grpcfront import GrpcClient, serve_grpc_background
    from marketstore_spark.server import DataService

    root = tmp_path_factory.mktemp("grpc_catalog")
    svc = DataService(Catalog(spark, str(root)))
    srv, _thread = serve_grpc_background(svc)
    cli = GrpcClient(port=srv.port)
    yield cli, svc
    cli.close()
    srv.shutdown()


UTC = dt.timezone.utc


def _bars(n=3, start="2024-01-02 09:30"):
    ts = pd.date_range(start, periods=n, freq="1min")
    return pd.DataFrame(
        {
            "ts": ts,
            "open": [float(i + 1) for i in range(n)],
            "close": [float(i + 1) + 0.5 for i in range(n)],
            "volume": list(range(10, 10 + 10 * n, 10)),
        }
    )


def test_grpc_server_version(grpc_stack):
    cli, _ = grpc_stack
    from marketstore_spark import __version__

    assert cli.server_version() == __version__


def test_grpc_write_query_roundtrip(grpc_stack):
    cli, _ = grpc_stack
    cli.write(_bars(3), "GAAPL/1Min/OHLCV")
    frames = cli.query("GAAPL/1Min/OHLCV")
    assert list(frames) == ["GAAPL/1Min/OHLCV"]
    f = frames["GAAPL/1Min/OHLCV"]
    assert f["close"].tolist() == [1.5, 2.5, 3.5]  # Epoch order
    # ts arrives as epoch-ns int64 (the engine wire convention)
    assert int(f["ts"].iloc[0]) == int(
        dt.datetime(2024, 1, 2, 9, 30, tzinfo=UTC).timestamp() * 1_000_000_000
    )


def test_grpc_query_returns_epoch_order_across_commits(grpc_stack):
    """Multiple appends land in multiple parquet files; Query must
    still return time order (the reference's storage is time-indexed,
    executor/reader.go)."""
    cli, _ = grpc_stack
    cli.write(_bars(2, start="2024-01-02 10:00"), "GORD/1Min/OHLCV")
    cli.write(_bars(2, start="2024-01-02 09:00"), "GORD/1Min/OHLCV")
    cli.write(_bars(2, start="2024-01-02 09:30"), "GORD/1Min/OHLCV")
    f = cli.query("GORD/1Min/OHLCV")["GORD/1Min/OHLCV"]
    assert f["ts"].tolist() == sorted(f["ts"].tolist())
    assert len(f) == 6


def test_grpc_query_range_and_limit(grpc_stack):
    cli, _ = grpc_stack
    cli.write(_bars(5), "GRNG/1Min/OHLCV")
    start = int(dt.datetime(2024, 1, 2, 9, 31, tzinfo=UTC).timestamp())
    f = cli.query(
        "GRNG/1Min/OHLCV",
        epoch_start=start,
        limit_record_count=2,
        limit_from_start=True,
    )["GRNG/1Min/OHLCV"]
    assert f["close"].tolist() == [2.5, 3.5]
    # tail limit: last 2 of the range
    f = cli.query("GRNG/1Min/OHLCV", limit_record_count=2)["GRNG/1Min/OHLCV"]
    assert f["close"].tolist() == [4.5, 5.5]
    # column projection
    f = cli.query("GRNG/1Min/OHLCV", columns=["ts", "close"])["GRNG/1Min/OHLCV"]
    assert list(f.columns) == ["ts", "close"]


def test_grpc_epoch_nanos_write_convention(grpc_stack):
    """frontend/grpc.go accepts the reference's Epoch(+Nanoseconds)
    columns; they fold into ts on ingest."""
    cli, _ = grpc_stack
    epoch = int(dt.datetime(2024, 3, 1, 12, 0, tzinfo=UTC).timestamp())
    pdf = pd.DataFrame(
        {
            "Epoch": [epoch, epoch + 60],
            # 500 µs: Spark timestamps are µs-precision, so the wire's
            # nanosecond field survives down to the microsecond
            "Nanoseconds": [0, 500_000],
            "price": [10.0, 11.0],
        }
    )
    cli.write(pdf, "GEPO/1Min/TICK")
    f = cli.query("GEPO/1Min/TICK")["GEPO/1Min/TICK"]
    assert int(f["ts"].iloc[1]) == (epoch + 60) * 1_000_000_000 + 500_000
    assert f["price"].tolist() == [10.0, 11.0]


def test_grpc_query_functions_pipeline(grpc_stack):
    """QueryRequest.functions (proto field 12) runs the UDA registry —
    the grpc twin of frontend Query's function chain."""
    cli, _ = grpc_stack
    ticks = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-02 09:00", periods=60, freq="1min"),
            "value": [float(i + 1) for i in range(60)],
            # open/close tie-break column (tickcandler's deterministic
            # first/last-by-(ts, event_id) ordering)
            "event_id": list(range(60)),
        }
    )
    cli.write(ticks, "GFUN/1Min/TICK")
    f = cli.query(
        "GFUN/1Min/TICK", functions=["tickcandler('1H',value)"]
    )["GFUN/1Min/TICK"]
    assert len(f) == 1  # 60 one-minute ticks → one hourly candle
    row = f.iloc[0]
    assert row["open"] == 1.0 and row["close"] == 60.0
    assert row["high"] == 60.0 and row["low"] == 1.0
    cli.destroy("GFUN/1Min/TICK")


def test_grpc_sql_statement(grpc_stack):
    cli, _ = grpc_stack
    cli.write(_bars(4), "GSQL/1Min/OHLCV")
    frames = cli.sql("SELECT COUNT(*) AS n, SUM(volume) AS v FROM `GSQL/1Min/OHLCV`")
    f = next(iter(frames.values()))
    assert f.to_dict("records") == [{"n": 4, "v": 100}]


def test_grpc_list_symbols_and_destroy(grpc_stack):
    cli, _ = grpc_stack
    cli.write(_bars(1), "GLST/1Min/OHLCV")
    assert "GLST" in cli.list_symbols()
    assert "GLST/1Min/OHLCV" in cli.list_symbols("tbk")
    resp = cli.destroy("GLST/1Min/OHLCV")
    assert resp["responses"][0]["error"] == ""
    assert "GLST" not in cli.list_symbols()


def test_grpc_create_from_data_shapes(grpc_stack):
    cli, _ = grpc_stack
    resp = cli.call(
        "Create",
        {
            "requests": [
                {
                    "key": "GNEW/1Min/OHLCV",
                    "data_shapes": [
                        {"name": "Epoch", "type": "i8"},
                        {"name": "close", "type": "f8"},
                        {"name": "volume", "type": "i8"},
                    ],
                    "row_type": "fixed",
                }
            ]
        },
    )
    assert resp["responses"][0]["error"] == ""
    assert "GNEW/1Min/OHLCV" in cli.list_symbols("tbk")
    cli.destroy("GNEW/1Min/OHLCV")


def test_grpc_error_paths(grpc_stack):
    cli, _ = grpc_stack
    from marketstore_spark.grpcfront import NOT_FOUND, UNIMPLEMENTED, GrpcError

    with pytest.raises(KeyError):
        cli.call("Bogus")  # not in the client method table
    # unknown method at the server → UNIMPLEMENTED in the trailers
    _h, _b, trailers = cli.conn.request(
        [
            (":method", "POST"),
            (":scheme", "http"),
            (":path", "/proto.Marketstore/Nope"),
            (":authority", "x"),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ],
        b"\x00\x00\x00\x00\x00",
    )
    assert dict(trailers)["grpc-status"] == str(UNIMPLEMENTED)
    # missing bucket → NOT_FOUND via the client helper
    with pytest.raises(GrpcError) as missing:
        cli.query("GNOPE/1Min/OHLCV")
    assert missing.value.status == NOT_FOUND
    # compressed-flag messages are refused
    _h, _b, trailers = cli.conn.request(
        [
            (":method", "POST"),
            (":scheme", "http"),
            (":path", "/proto.Marketstore/ServerVersion"),
            (":authority", "x"),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ],
        b"\x01\x00\x00\x00\x00",
    )
    assert dict(trailers)["grpc-status"] == str(UNIMPLEMENTED)


def test_grpc_flow_control_large_response(grpc_stack):
    """A response body well past the 65535-byte default connection
    window forces WINDOW_UPDATE-driven chunked sends on the server and
    replenishment from the client."""
    cli, _ = grpc_stack
    cli.write(_bars(4000, start="2024-02-01 00:00"), "GBIG/1Min/OHLCV")
    f = cli.query("GBIG/1Min/OHLCV")["GBIG/1Min/OHLCV"]
    assert len(f) == 4000
    # 4 columns × 8 bytes × 4000 rows ≈ 128 KiB of column buffers
    assert f["ts"].tolist() == sorted(f["ts"].tolist())
    cli.destroy("GBIG/1Min/OHLCV")


# ---------------------------------------------------------------------
# property tests (hypothesis): wire codecs must roundtrip arbitrary data
# ---------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300))
def test_huffman_roundtrip_property(blob):
    assert huffman_decode(huffman_encode(blob)) == blob


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    min_codepoint=0x21, max_codepoint=0x7E
                ),
                min_size=1,
                max_size=20,
            ).map(str.lower),
            st.text(
                alphabet=st.characters(
                    min_codepoint=0x20, max_codepoint=0xFF,
                    exclude_characters="\r\n",
                ),
                max_size=40,
            ),
        ),
        max_size=10,
    ),
    st.booleans(),
)
def test_hpack_roundtrip_property(headers, huffman):
    got = Decoder().decode(Encoder(huffman=huffman).encode(headers))
    assert got == headers


@settings(max_examples=200, deadline=None)
@given(
    st.builds(
        dict,
        is_sql_statement=st.booleans(),
        sql_statement=st.text(max_size=30),
        destination=st.text(max_size=30),
        epoch_start=st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
        epoch_end=st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
        epoch_start_nanos=st.integers(min_value=0, max_value=999_999_999),
        limit_record_count=st.integers(min_value=-(2 ** 31), max_value=2 ** 31 - 1),
        limit_from_start=st.booleans(),
        columns=st.lists(st.text(max_size=10), max_size=5),
        functions=st.lists(st.text(max_size=10), max_size=3),
    )
)
def test_protowire_query_request_roundtrip_property(req):
    got = protowire.decode(
        "QueryRequest", protowire.encode("QueryRequest", req)
    )
    for k, v in req.items():
        assert got[k] == v, k


@settings(max_examples=100, deadline=None)
@given(
    st.dictionaries(st.text(min_size=1, max_size=20), st.integers(0, 2 ** 31 - 1),
                    max_size=8),
    st.lists(st.binary(max_size=64), max_size=4),
)
def test_protowire_nmds_roundtrip_property(index, buffers):
    msg = {
        "data": {
            "column_types": ["i8"] * len(buffers),
            "column_names": [f"c{i}" for i in range(len(buffers))],
            "column_data": buffers,
            "length": 7,
        },
        "start_index": index,
        "lengths": index,
    }
    got = protowire.decode(
        "NumpyMultiDataset", protowire.encode("NumpyMultiDataset", msg)
    )
    assert got["start_index"] == index and got["lengths"] == index
    assert got["data"]["column_data"] == buffers


def test_grpc_interleaved_concurrent_streams(grpc_stack):
    """A multiplexing client interleaves two unary calls on one
    connection (HEADERS 1, HEADERS 3, DATA 1, DATA 3); the server's
    per-stream state must keep both exchanges intact."""
    from marketstore_spark.grpcfront import (
        GrpcClient, _METHODS, _unwrap_unary, _wrap,
    )
    from marketstore_spark.http2lite import H2ClientConnection, _Stream

    cli, _ = grpc_stack
    conn = H2ClientConnection("127.0.0.1", cli.port)

    def headers_for(method):
        return [
            (":method", "POST"),
            (":scheme", "http"),
            (":path", "/proto.Marketstore/" + method),
            (":authority", "x"),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ]

    body1 = _wrap(protowire.encode("ServerVersionRequest", {}))
    body3 = _wrap(protowire.encode("ListSymbolsRequest", {"format": 1}))
    conn.streams[1] = _Stream(conn.peer_initial_window)
    conn.streams[3] = _Stream(conn.peer_initial_window)
    conn.send_headers(1, headers_for("ServerVersion"))
    conn.send_headers(3, headers_for("ListSymbols"))
    conn.send_data(1, body1, end_stream=True)
    conn.send_data(3, body3, end_stream=True)

    results = {}
    from marketstore_spark.http2lite import read_frame

    while len(results) < 2:
        done = conn._handle_frame(*read_frame(conn.rfile, conn.peer_max_frame))
        if done is not None:
            st = conn.streams.pop(done)
            results[done] = st
    v = protowire.decode("ServerVersionResponse", _unwrap_unary(bytes(results[1].body)))
    from marketstore_spark import __version__

    assert v["version"] == __version__
    syms = protowire.decode(
        "ListSymbolsResponse", _unwrap_unary(bytes(results[3].body))
    )
    assert all("/" in s for s in syms["results"])  # tbk format
    assert dict(results[1].blocks[1])["grpc-status"] == "0"
    assert dict(results[3].blocks[1])["grpc-status"] == "0"
    conn.close()


def test_grpc_flow_control_large_request_body(grpc_stack):
    """A write body well past the 65535-byte connection window forces
    the CLIENT through flow-blocked sends and the server through
    receive-window replenishment (WINDOW_UPDATE both levels)."""
    import numpy as np

    cli, _ = grpc_stack
    n = 12_000  # 4 col × 8 B × 12k rows ≈ 384 KiB of column buffers
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-03-01", periods=n, freq="1min"),
            "open": np.arange(n, dtype="f8"),
            "close": np.arange(n, dtype="f8") + 0.5,
            "volume": np.arange(n, dtype="i8"),
        }
    )
    resp = cli.write(pdf, "GUPL/1Min/OHLCV")
    assert resp["responses"][0]["error"] == ""
    f = cli.query("GUPL/1Min/OHLCV", limit_record_count=3)["GUPL/1Min/OHLCV"]
    assert f["close"].tolist() == [n - 3 + 0.5, n - 2 + 0.5, n - 1 + 0.5]
    cli.destroy("GUPL/1Min/OHLCV")



@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=80))
def test_wire_decoders_fail_clean_on_garbage(blob):
    """Network-facing parsers must reject arbitrary bytes with a clean
    ValueError — never an IndexError/struct.error/hang (the msgpack
    nesting-bound lesson, applied to the whole wire stack)."""
    for msg in ("QueryRequest", "NumpyMultiDataset", "MultiWriteRequest"):
        try:
            protowire.decode(msg, blob)
        except ValueError:
            pass
    try:
        Decoder().decode(blob)
    except ValueError:
        pass
    try:
        huffman_decode(blob)
    except ValueError:
        pass


def test_hpack_table_size_update_and_never_indexed():
    # §6.3 size update to 0 evicts everything; a later indexed ref to
    # the dynamic table must fail
    d = Decoder()
    d.decode(bytes.fromhex("828684410f7777772e6578616d706c652e636f6d"))
    assert d.size == 57  # :authority entry in the dynamic table
    d.decode(bytes([0x20]))  # size update: max 0
    assert d.size == 0 and d.dynamic == []
    with pytest.raises(ValueError):
        d.decode(bytes([0x80 | 62]))  # first dynamic slot is gone
    # update above the SETTINGS maximum is a decode error (§6.3)
    with pytest.raises(ValueError):
        Decoder(max_table_size=256).decode(bytes([0x3F, 0xE1, 0x1F]))  # 4096

    # §6.2.3 never-indexed literal (0x10 prefix): decoded like a
    # plain literal, never enters the table
    d = Decoder()
    block = bytes([0x10, 0x08]) + b"password" + bytes([0x06]) + b"hunter"
    assert d.decode(block) == [("password", "hunter")]
    assert d.size == 0


def test_h2_rejects_bad_preface(grpc_stack):
    """A non-HTTP/2 client gets a clean close, not a hang."""
    import socket

    cli, _ = grpc_stack
    s = socket.create_connection(("127.0.0.1", cli.port), timeout=10)
    s.sendall(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n")
    s.settimeout(10)
    try:
        data = s.recv(4096)  # server may GOAWAY or just close
        assert data == b"" or data[3:4] in (b"\x04", b"\x07")
    except (ConnectionResetError, TimeoutError):
        pass  # immediate close is also a clean rejection
    finally:
        s.close()


def test_protowire_truncated_unknown_field_raises():
    """_skip must bound every advance (ADVICE r10): an unknown field
    whose declared length runs past the buffer end is corruption, not
    clean end-of-message."""
    blob = protowire.encode("ServerVersionResponse", {"version": "1.0"})
    # unknown field 15 LEN claiming 16 bytes with only 3 present
    with pytest.raises(ValueError):
        protowire.decode(
            "ServerVersionResponse", blob + bytes([15 << 3 | 2, 16]) + b"abc"
        )
    # unknown I64 with only 4 bytes left
    with pytest.raises(ValueError):
        protowire.decode(
            "ServerVersionResponse", blob + bytes([15 << 3 | 1]) + b"\x00" * 4
        )
    # unknown I32 at the very end
    with pytest.raises(ValueError):
        protowire.decode("ServerVersionResponse", blob + bytes([15 << 3 | 5]))


def test_nmds_heterogeneous_tbk_columns_padded():
    """A Query spanning buckets with differing schemas must produce
    full-length buffers for the UNION of columns (ADVICE r10) — the
    flat start_index/lengths offsets only line up when every column
    buffer is exactly `length` rows."""
    import math

    import numpy as np

    from marketstore_spark.grpcfront import (
        _column_series_to_nmds,
        _nmds_to_frames,
    )

    nmds = _column_series_to_nmds(
        {
            "X/1Min/OHLCV": {"Epoch": [1, 2], "close": [1.0, 2.0]},
            "Y/1Min/TICK": {"Epoch": [3], "bid": [9.5]},
        }
    )
    ds = nmds["data"]
    assert ds["column_names"] == ["Epoch", "close", "bid"]
    assert ds["length"] == 3
    for t, raw in zip(ds["column_types"], ds["column_data"]):
        assert len(np.frombuffer(raw, dtype=np.dtype(t))) == 3
    frames = _nmds_to_frames(nmds)
    x, y = frames["X/1Min/OHLCV"], frames["Y/1Min/TICK"]
    assert list(x["close"]) == [1.0, 2.0] and list(y["Epoch"]) == [3]
    assert y["bid"].iloc[0] == 9.5
    assert math.isnan(y["close"].iloc[0])  # Y never wrote close
    assert x["bid"].isna().all()  # X never wrote bid


def test_h2_inbound_frame_bounded_by_own_max_not_peers(grpc_stack):
    """RFC 7540 §4.2 (ADVICE r10): the peer's SETTINGS_MAX_FRAME_SIZE
    governs frames we SEND; inbound frames are bounded by OUR
    advertised size (the 16384 default, never raised).  A client that
    advertises 64 KiB and then sends a 20000-byte frame must draw
    FRAME_SIZE_ERROR, not acceptance."""
    import socket
    import struct as _struct

    from marketstore_spark import http2lite as h2

    cli, _ = grpc_stack
    s = socket.create_connection(("127.0.0.1", cli.port), timeout=10)
    try:
        settings = _struct.pack("!HI", h2.SETTINGS_MAX_FRAME_SIZE, 65536)
        s.sendall(
            h2.PREFACE
            + len(settings).to_bytes(3, "big")
            + bytes([h2.SETTINGS, 0])
            + (0).to_bytes(4, "big")
            + settings
        )
        # DATA frame header declaring 20000 bytes on stream 1
        s.sendall(
            (20000).to_bytes(3, "big") + bytes([h2.DATA, 0]) + (1).to_bytes(4, "big")
        )
        try:
            s.sendall(b"\x00" * 20000)
        except OSError:
            pass  # server may close before draining the body
        s.settimeout(10)
        buf = b""
        while True:
            try:
                chunk = s.recv(65536)
            except (ConnectionResetError, TimeoutError):
                break
            if not chunk:
                break
            buf += chunk
        goaway_code = None
        pos = 0
        while pos + 9 <= len(buf):
            ln = int.from_bytes(buf[pos : pos + 3], "big")
            ftype = buf[pos + 3]
            body = buf[pos + 9 : pos + 9 + ln]
            if ftype == h2.GOAWAY and len(body) >= 8:
                goaway_code = int.from_bytes(body[4:8], "big")
            pos += 9 + ln
        assert goaway_code == h2.FRAME_SIZE_ERROR
    finally:
        s.close()
