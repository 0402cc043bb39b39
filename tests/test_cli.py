"""CLI tooling (reference cmd/connect, cmd/estimate, cmd/tool)."""

import io
import json
import os

import pytest
from pyspark.sql import functions as F

from marketstore_spark.catalog import Catalog, load_table
from marketstore_spark.cli import estimate_bytes, main


@pytest.fixture()
def store(spark, sf_dir, tmp_path):
    root = os.path.join(str(tmp_path), "root")
    cat = Catalog(spark, root)
    ev = load_table(spark, sf_dir, "events").limit(300)
    cat.write("TSLA/1Min/TICK", ev)
    cat.write("AAPL/1Min/TICK", ev.limit(100))
    return root, cat


def _run(spark, argv):
    buf = io.StringIO()
    rc = main(argv, spark=spark, out=buf)
    assert rc == 0
    return buf.getvalue().strip().splitlines()


def test_cli_list_info_integrity(spark, store):
    root, cat = store
    assert _run(spark, ["--root", root, "list"]) == ["AAPL", "TSLA"]
    assert _run(spark, ["--root", root, "list", "--format", "tbk"]) == [
        "AAPL/1Min/TICK",
        "TSLA/1Min/TICK",
    ]
    info = json.loads(_run(spark, ["--root", root, "info", "TSLA/1Min/TICK"])[0])
    assert info["rows"] == "300"
    rep = [json.loads(l) for l in _run(spark, ["--root", root, "integrity"])]
    assert {r["key"] for r in rep} == {"AAPL/1Min/TICK", "TSLA/1Min/TICK"}


def test_cli_trim_compact_ddl(spark, store):
    root, cat = store
    lo = cat.read("TSLA/1Min/TICK").agg(F.min("ts")).first()[0]
    out = json.loads(
        _run(spark, ["--root", root, "trim", "TSLA/1Min/TICK",
                     "--start", str(lo), "--end", str(lo)])[0]
    )
    assert out["deleted"] >= 1
    comp = json.loads(_run(spark, ["--root", root, "compact", "AAPL/1Min/TICK"])[0])
    assert comp["files_after"] <= comp["files_before"]
    _run(spark, ["--root", root, "create", "MSFT/1Min/TICK", "--like", "AAPL/1Min/TICK"])
    assert "MSFT/1Min/TICK" in cat.list_buckets()
    _run(spark, ["--root", root, "destroy", "MSFT/1Min/TICK"])
    assert "MSFT/1Min/TICK" not in cat.list_buckets()


def test_cli_sql_and_estimate(spark, store):
    root, _ = store
    rows = _run(spark, ["--root", root, "sql",
                        "SELECT * FROM `TSLA/1Min/TICK` LIMIT 3", "--limit", "5"])
    assert len(rows) == 3 and all(json.loads(r) for r in rows)
    est = json.loads(_run(spark, ["estimate", "--symbols", "5000",
                                  "--timeframe", "1Min", "--years", "5"])[0])
    assert est["bytes"] == 5000 * 1440 * 252 * 5 * 48
    with pytest.raises(ValueError):
        estimate_bytes(1, "9Q", 1)


def test_cli_versions_and_vacuum(spark, store):
    """tool-wal analogue: commit history is inspectable; vacuum sweeps
    superseded files after a compact."""
    root, cat = store
    cat.write("TSLA/1Min/TICK", cat.read("TSLA/1Min/TICK").limit(10))
    rows = [json.loads(r) for r in _run(spark, ["--root", root, "versions", "TSLA/1Min/TICK"])]
    assert [r["version"] for r in rows] == [0, 1]
    assert rows[-1]["current"] is True

    cat.compact("TSLA/1Min/TICK")  # compact never reclaims implicitly
    swept = json.loads(
        _run(spark, ["--root", root, "vacuum", "TSLA/1Min/TICK",
                     "--min-age-seconds", "0"])[0]
    )
    assert swept["removed_files"] >= 1  # superseded files swept explicitly
    # after compact+vacuum only the current version remains listed
    rows = [json.loads(r) for r in _run(spark, ["--root", root, "versions", "TSLA/1Min/TICK"])]
    assert len(rows) == 1 and rows[0]["current"]


def test_cli_versions_of_key_without_manifest_fails(spark, store, capsys):
    """A key with no manifest is no bucket: `versions` exits non-zero
    and names the key."""
    root, _ = store
    os.makedirs(os.path.join(root, "NONE", "1Min", "TICK"))  # a bare directory
    buf = io.StringIO()
    assert main(["--root", root, "versions", "NONE/1Min/TICK"], spark=spark, out=buf) != 0
    assert buf.getvalue() == ""
    assert "NONE/1Min/TICK" in capsys.readouterr().err


def test_cli_connect_repl_scripted_session(spark, store):
    """cmd/connect analogue: a scripted stdin drives the interactive
    shell — SQL with TBK backticks, \\l and \\i session commands, an
    error that must NOT kill the session, and \\q to exit."""
    root, _cat = store
    script = "\n".join(
        [
            "",  # blank line is ignored
            r"\h",
            r"\l",
            r"\i TSLA/1Min/TICK",
            "SELECT COUNT(*) AS n FROM `TSLA/1Min/TICK`;",
            "SELECT broken syntax here",  # survives as ERROR line
            "SELECT COUNT(*) AS m FROM `AAPL/1Min/TICK`",
            r"\q",
            "never reached",
        ]
    ) + "\n"
    buf = io.StringIO()
    rc = main(
        ["--root", root, "connect"],
        spark=spark,
        out=buf,
        stdin=io.StringIO(script),
    )
    assert rc == 0
    lines = buf.getvalue().strip().splitlines()
    assert any(r"\load KEY CSV" in l for l in lines)  # \h
    assert "TSLA/1Min/TICK" in lines and "AAPL/1Min/TICK" in lines  # \l
    info = next(json.loads(l) for l in lines if l.startswith("{") and "rows" in l)
    assert info["rows"] == "300"
    assert any('"n":300' in l for l in lines)
    assert any('"m":100' in l for l in lines)
    assert any(l.startswith("ERROR:") for l in lines)
    assert not any("never reached" in l for l in lines)


def test_cli_connect_eof_exits_cleanly(spark, store):
    root, _cat = store
    buf = io.StringIO()
    rc = main(["--root", root, "connect"], spark=spark, out=buf, stdin=io.StringIO(""))
    assert rc == 0


def test_cli_serve_starts_wire_frontend(spark, store):
    """`serve` boots the JSON-RPC listener over the store (the
    `marketstore start` analogue): a thread runs the CLI with a
    bounded lifetime while the main thread drives the HTTP client
    against the advertised ephemeral port."""
    import re
    import threading
    import time

    from marketstore_spark.client import HttpClient

    root, _cat = store
    buf = io.StringIO()
    t = threading.Thread(
        target=main,
        args=(["--root", root, "serve", "--port", "0", "--max-seconds", "15"],),
        kwargs={"spark": spark, "out": buf},
        daemon=True,
    )
    t.start()
    port = None
    for _ in range(100):
        m = re.search(r'"listening": \["[^"]*", (\d+)\]', buf.getvalue())
        if m:
            port = int(m.group(1))
            break
        time.sleep(0.1)
    assert port, buf.getvalue()
    c = HttpClient(f"http://127.0.0.1:{port}")
    assert sorted(c.list_symbols()) == ["AAPL", "TSLA"]
    assert "version" in json.dumps(c.server_version()).lower()


def test_cli_serve_attaches_stream_hub(spark, store, tmp_path):
    """--stream-delivery-root constructs a StreamHub so the advertised
    GET /stream long-poll actually works from `serve` (without the
    flag the endpoint answers 'no stream hub attached')."""
    import re
    import threading
    import time

    from marketstore_spark.client import HttpClient

    root, _cat = store
    buf = io.StringIO()
    t = threading.Thread(
        target=main,
        args=(
            [
                "--root",
                root,
                "serve",
                "--port",
                "0",
                "--max-seconds",
                "15",
                "--stream-delivery-root",
                str(tmp_path / "deliveries"),
            ],
        ),
        kwargs={"spark": spark, "out": buf},
        daemon=True,
    )
    t.start()
    port = None
    for _ in range(100):
        m = re.search(r'"listening": \["[^"]*", (\d+)\]', buf.getvalue())
        if m:
            port = int(m.group(1))
            break
        time.sleep(0.1)
    assert port, buf.getvalue()
    c = HttpClient(f"http://127.0.0.1:{port}")
    out = c.stream_poll("AAPL/1Min/*", cursor=0, timeout=0)
    assert out["cursor"] == 0 and out["payloads"] == []


def test_cli_connect_session_commands(spark, store, tmp_path):
    """The reference's full session command set (cmd/connect/session/
    client.go): \\show, \\load (CSV import), \\trim, \\gaps, \\create,
    \\destroy, \\getinfo, \\o redirect, \\timing toggle."""
    root, cat = store
    csv = tmp_path / "ticks.csv"
    base = cat.read("TSLA/1Min/TICK").limit(7).toPandas()
    base.to_csv(csv, index=False)
    outfile = tmp_path / "out.txt"
    script = "\n".join(
        [
            r"\show TSLA/1Min/TICK 3",
            rf"\load NEW/1Min/TICK {csv}",
            r"\getinfo NEW/1Min/TICK",
            r"\create CLONE/1Min/TICK NEW/1Min/TICK",
            r"\destroy CLONE/1Min/TICK",
            r"\gaps TSLA/1Min/TICK 0.5",
            r"\timing",
            "SELECT COUNT(*) AS n FROM `NEW/1Min/TICK`",
            r"\timing",
            rf"\o {outfile}",
            r"\l",
            r"\o",
            r"\trim NEW/1Min/TICK 1970-01-01 2100-01-01",
            r"\q",
        ]
    ) + "\n"
    buf = io.StringIO()
    rc = main(
        ["--root", root, "connect"], spark=spark, out=buf, stdin=io.StringIO(script)
    )
    assert rc == 0
    text = buf.getvalue()
    lines = text.strip().splitlines()
    assert sum(1 for l in lines if l.startswith("{") and '"ts"' in l) >= 3  # \show
    assert any("loaded 7 rows into NEW/1Min/TICK" in l for l in lines)
    assert any("created CLONE/1Min/TICK" in l for l in lines)
    assert any("destroyed CLONE/1Min/TICK" in l for l in lines)
    assert any('"n":7' in l for l in lines)
    assert any(l.startswith("time:") for l in lines)  # \timing wrapped the SQL
    assert text.count("time:") == 1  # toggled back off
    assert any("trimmed 7 rows" in l for l in lines)
    # \o redirected the bucket list to the file, not stdout
    redirected = outfile.read_text()
    assert "NEW/1Min/TICK" in redirected and "TSLA/1Min/TICK" in redirected


def test_cli_serve_dual_listener_grpc(spark, store):
    """--grpc-port boots the gRPC DataService twin alongside the JSON
    listener (the reference's marketstore.go dual-listener start)."""
    import re
    import threading
    import time

    from marketstore_spark.grpcfront import GrpcClient

    root, _cat = store
    buf = io.StringIO()
    t = threading.Thread(
        target=main,
        args=(
            ["--root", root, "serve", "--port", "0", "--grpc-port", "0",
             "--max-seconds", "15"],
        ),
        kwargs={"spark": spark, "out": buf},
        daemon=True,
    )
    t.start()
    gport = None
    for _ in range(100):
        m = re.search(r'"grpc": \["[^"]*", (\d+)\]', buf.getvalue())
        if m:
            gport = int(m.group(1))
            break
        time.sleep(0.1)
    assert gport, buf.getvalue()
    c = GrpcClient(port=gport)
    assert sorted(c.list_symbols()) == ["AAPL", "TSLA"]
    assert c.server_version()
    c.close()
