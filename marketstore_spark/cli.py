"""Command-line tooling over a bucket catalog.

Reference: ``cmd/`` — ``connect`` (interactive client: queries and SQL
against a store), ``create``, ``estimate`` (storage sizing from
symbols × timeframe × years), and ``tool integrity``; plus trim-style
maintenance.  ``cmd/start`` (the RPC server) has no analogue — the
"server" is a SparkSession.  ``tool wal`` maps to ``versions`` /
``vacuum`` over the manifest commit log (txn.py): inspect the commit
history and sweep crash debris, which is exactly what the WAL
debugger was for.

Usage: ``python -m marketstore_spark.cli --root /buckets <command>``.
Each command is a thin shell over Catalog/Client, so everything a
terminal user does hits exactly the code a program would.
"""

from __future__ import annotations

import argparse
import json
import sys

_BYTES_PER_ROW = 48  # ~6 float64-ish columns, parquet-encoded

_INTERVALS_PER_DAY = {
    "1D": 1,
    "1H": 24,
    "5Min": 24 * 12,
    "1Min": 24 * 60,
    "1Sec": 24 * 60 * 60,
}


def estimate_bytes(symbols: int, timeframe: str, years: float) -> int:
    """cmd/estimate: rough storage need for a tick store.  Parquet has
    no fixed per-bucket header; the estimate is rows × encoded width
    (column encodings typically beat this — it's an upper bound)."""
    if timeframe not in _INTERVALS_PER_DAY:
        raise ValueError(
            f"unknown timeframe {timeframe!r}; known: {sorted(_INTERVALS_PER_DAY)}"
        )
    rows = symbols * _INTERVALS_PER_DAY[timeframe] * 252 * years  # trading days
    return int(rows * _BYTES_PER_ROW)


def _get_session():
    from marketstore_spark import get_session

    return get_session("marketstore-spark-cli")


def _repl(cat, out, stdin, limit: int) -> int:
    """cmd/connect-style interactive shell: each line is a MarketSQL
    statement (TBK backticks work: ``SELECT * FROM `SYM/1Min/TICK```);
    backslash commands mirror the reference's session command set
    (cmd/connect/session/client.go registers \\o \\timing \\show
    \\trim \\gaps \\load \\create \\destroy \\getinfo \\help — the
    feeder-only \\feed stays with the streaming module).  Reads until
    EOF, so a scripted stdin drives it exactly like a terminal does."""
    import time as _time

    from marketstore_spark.plans.sqlfront import MarketSQL

    interactive = hasattr(stdin, "isatty") and stdin.isatty()
    if interactive:
        try:  # arrow-key history when a real terminal is attached
            import readline  # noqa: F401
        except ImportError:
            pass
    msql = MarketSQL(cat)
    timing = False
    redirect = None  # \o target file object, None = `out`

    def _emit(line: str) -> None:
        print(line, file=redirect or out)

    while True:
        if interactive:
            print("marketstore> ", end="", file=out, flush=True)
        line = stdin.readline()
        if not line:  # EOF
            if redirect is not None:
                redirect.close()
            return 0
        stmt = line.strip().rstrip(";")
        if not stmt:
            continue
        cmd, _, rest = stmt.partition(" ")
        args = rest.split()
        t0 = _time.perf_counter()
        try:
            if cmd in (r"\q", "quit", "exit"):
                if redirect is not None:
                    redirect.close()
                return 0
            elif cmd in (r"\h", r"\help"):
                print(
                    r"\l list   \i|\getinfo KEY   \show KEY [n]   "
                    r"\load KEY CSV   \trim KEY START END   "
                    r"\gaps KEY SECONDS   \create KEY LIKE   "
                    r"\destroy KEY   \o [FILE]   \timing   \q   "
                    "anything else runs as SQL",
                    file=out,
                )
            elif cmd == r"\l":
                for name in cat.list_symbols(format="tbk"):
                    _emit(name)
            elif cmd in (r"\i", r"\getinfo"):
                info = cat.get_info(rest.strip())
                _emit(json.dumps({k: str(v) for k, v in info.items()}))
            elif cmd == r"\show":
                key = args[0]
                n = int(args[1]) if len(args) > 1 else limit
                for row in cat.read(key).limit(n).toJSON().collect():
                    _emit(row)
            elif cmd == r"\load":
                from marketstore_spark.sources.csv import import_csv_to_bucket

                key, path = args[0], args[1]
                n = import_csv_to_bucket(cat.spark, path, cat, key)
                _emit(f"loaded {n} rows into {key}")
            elif cmd == r"\trim":
                key, start, end = args[0], args[1], args[2]
                n = cat.delete_range(key, start, end)
                _emit(f"trimmed {n} rows from {key}")
            elif cmd == r"\gaps":
                from marketstore_spark.operators.uda import gap_threshold

                key, secs = args[0], float(args[1])
                g = gap_threshold(cat.read(key), secs, key_cols=())
                for row in g.limit(limit).toJSON().collect():
                    _emit(row)
            elif cmd == r"\create":
                key, like = args[0], args[1]
                cat.create(key, cat.read(like))
                _emit(f"created {key}")
            elif cmd == r"\destroy":
                cat.destroy(args[0])
                _emit(f"destroyed {args[0]}")
            elif cmd == r"\o":
                if redirect is not None:
                    redirect.close()
                    redirect = None
                if args:
                    redirect = open(args[0], "w")  # noqa: SIM115 — lives across lines
                    print(f"output -> {args[0]}", file=out)
                else:
                    print("output -> stdout", file=out)
            elif cmd == r"\timing":
                timing = not timing
                print(f"timing {'on' if timing else 'off'}", file=out)
            else:
                for row in msql.sql(stmt).limit(limit).toJSON().collect():
                    _emit(row)
            if timing and not cmd.startswith("\\"):
                print(
                    f"time: {(_time.perf_counter() - t0) * 1000:.1f} ms",
                    file=out,
                )
        except Exception as ex:  # noqa: BLE001 — a REPL survives bad input
            print(f"ERROR: {type(ex).__name__}: {ex}", file=out)


def main(argv: list[str] | None = None, spark=None, out=None, stdin=None) -> int:
    out = out or sys.stdout
    stdin = stdin or sys.stdin
    p = argparse.ArgumentParser(prog="marketstore-spark")
    p.add_argument("--root", help="bucket catalog root (any Spark-readable URI)")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("list", help="list symbols or buckets (ListSymbols)")
    s.add_argument("--format", default="symbol", choices=["symbol", "tbk"])

    s = sub.add_parser("info", help="bucket metadata (GetInfo)")
    s.add_argument("key")

    s = sub.add_parser("create", help="create an empty bucket cloning a schema")
    s.add_argument("key")
    s.add_argument("--like", required=True, help="existing bucket to copy the schema of")

    s = sub.add_parser("destroy", help="drop a bucket")
    s.add_argument("key")

    s = sub.add_parser("trim", help="delete rows in [start, end] (tool trim)")
    s.add_argument("key")
    s.add_argument("--start", required=True)
    s.add_argument("--end", required=True)
    s.add_argument("--ts-col", default="ts")

    s = sub.add_parser("compact", help="rewrite a fragmented bucket")
    s.add_argument("key")
    s.add_argument("--target-mb", type=int, default=128)

    s = sub.add_parser("integrity", help="content checksums per bucket (tool integrity)")
    s.add_argument("--pattern", default="*/*/*")

    s = sub.add_parser("estimate", help="storage estimate (cmd/estimate)")
    s.add_argument("--symbols", type=int, required=True)
    s.add_argument("--timeframe", default="1Min")
    s.add_argument("--years", type=float, required=True)

    s = sub.add_parser("sql", help="run a MarketSQL/SQL statement (connect)")
    s.add_argument("statement")
    s.add_argument("--limit", type=int, default=20)

    s = sub.add_parser(
        "connect",
        help="interactive SQL shell over the store (cmd/connect REPL)",
    )
    s.add_argument("--limit", type=int, default=20)

    s = sub.add_parser("versions", help="bucket commit history (tool wal analogue)")
    s.add_argument("key")

    s = sub.add_parser(
        "du", help="per-bucket disk usage: total vs live (metrics/du.go analogue)"
    )

    s = sub.add_parser("vacuum", help="sweep unreferenced files / crash debris")
    s.add_argument("key")
    s.add_argument("--keep-versions", type=int, default=1)
    s.add_argument(
        "--min-age-seconds",
        type=float,
        default=None,
        help="retention gate; files younger than this survive the sweep "
        "(default: txn.DEFAULT_VACUUM_MIN_AGE_S). 0 = sweep everything "
        "(only safe with no concurrent writers).",
    )

    s = sub.add_parser(
        "serve",
        help="start the RPC wire frontend on the store "
        "(marketstore.go `start` analogue; GET /metrics, the /ws "
        "websocket push, and the /stream long-poll ride the same "
        "listener)",
    )
    s.add_argument(
        "--config",
        default=None,
        help="mkts.yml-analogue server config (utils/config.go shape: "
        "root_directory, listen_host/port, stream_*, triggers, "
        "bgworkers); explicit flags override config values",
    )
    s.add_argument("--host", default=None)
    s.add_argument("--port", type=int, default=None)  # default 5993 (reference)
    s.add_argument(
        "--grpc-port",
        type=int,
        default=None,
        help="also serve the gRPC DataService twin on this port "
        "(proto/marketstore.proto service; mkts.yml grpc_listen_port "
        "analogue — the reference's dual-listener start)",
    )
    s.add_argument(
        "--max-seconds",
        type=float,
        default=None,
        help="exit after this many seconds (tests/smoke); default: serve forever",
    )
    s.add_argument(
        "--stream-delivery-root",
        default=None,
        help="attach a StreamHub rooted here; GET /stream long-polls "
        "then serve deliveries that an EXTERNAL streaming pipeline "
        "(a StreamHub.attach/push_batch foreachBatch writer) appends "
        "under this root — `serve` itself wires no publisher "
        "(frontend/stream analogue); without it /stream replies "
        "'no stream hub attached'",
    )
    s.add_argument(
        "--stream-key-col",
        default="tbk",
        help="column carrying the TimeBucketKey in published batches",
    )

    args = p.parse_args(argv)

    if args.cmd == "estimate":  # needs no catalog/session
        b = estimate_bytes(args.symbols, args.timeframe, args.years)
        print(json.dumps({"bytes": b, "gb": round(b / 1e9, 2)}), file=out)
        return 0

    from marketstore_spark.catalog import Catalog

    server_cfg = None
    if args.cmd == "serve" and args.config:
        from marketstore_spark.config import load_config

        server_cfg = load_config(args.config)
        if not args.root:
            args.root = server_cfg.root_directory
    if not args.root:
        p.error(f"--root is required for {args.cmd}")
    cat = Catalog(spark or _get_session(), args.root)

    if args.cmd == "list":
        for name in cat.list_symbols(format=args.format):
            print(name, file=out)
    elif args.cmd == "info":
        info = cat.get_info(args.key)
        print(json.dumps({k: str(v) for k, v in info.items()}), file=out)
    elif args.cmd == "create":
        cat.create(args.key, cat.read(args.like))
        print(f"created {args.key}", file=out)
    elif args.cmd == "destroy":
        cat.destroy(args.key)
        print(f"destroyed {args.key}", file=out)
    elif args.cmd == "trim":
        n = cat.delete_range(args.key, args.start, args.end, ts_col=args.ts_col)
        print(json.dumps({"deleted": n}), file=out)
    elif args.cmd == "compact":
        print(json.dumps(cat.compact(args.key, target_file_mb=args.target_mb)), file=out)
    elif args.cmd == "integrity":
        for row in cat.integrity_check(args.pattern):
            print(json.dumps({k: str(v) for k, v in row.items()}), file=out)
    elif args.cmd == "sql":
        from marketstore_spark.plans.sqlfront import MarketSQL

        df = MarketSQL(cat).sql(args.statement)
        for line in df.limit(args.limit).toJSON().collect():
            print(line, file=out)
    elif args.cmd == "connect":
        return _repl(cat, out, stdin, args.limit)
    elif args.cmd == "versions":
        from marketstore_spark import txn
        from marketstore_spark.catalog import TimeBucketKey

        path = TimeBucketKey(args.key).path(args.root)
        cur = txn.current_version(path)
        if cur is None:
            print(f"no bucket {args.key}: it has no manifest", file=sys.stderr)
            return 1
        for v in range(cur + 1):
            try:
                m = txn.read_manifest(path, v)
            except FileNotFoundError:  # vacuumed away
                continue
            print(
                json.dumps(
                    {"version": v, "files": len(m["files"]), "current": v == cur}
                ),
                file=out,
            )
    elif args.cmd == "du":
        from marketstore_spark.metrics import du_report

        for row in du_report(cat):
            print(json.dumps(row), file=out)
    elif args.cmd == "vacuum":
        kw = {}
        if args.min_age_seconds is not None:
            kw["min_age_seconds"] = args.min_age_seconds
        print(
            json.dumps(cat.vacuum(args.key, keep_versions=args.keep_versions, **kw)),
            file=out,
        )
    elif args.cmd == "serve":
        import time as _time

        from marketstore_spark.server import serve_background

        # config supplies defaults; explicit flags override (cmd/start
        # precedence: CLI flags > mkts.yml > built-ins)
        host = args.host or (server_cfg.listen_host if server_cfg else "127.0.0.1")
        port = args.port if args.port is not None else (
            server_cfg.listen_port if server_cfg else 5993
        )
        delivery_root = args.stream_delivery_root or (
            server_cfg.stream_delivery_root if server_cfg else None
        )
        key_col = (
            args.stream_key_col
            if args.stream_key_col != "tbk"
            else (server_cfg.stream_key_col if server_cfg else "tbk")
        )
        hub = None
        if delivery_root:
            from marketstore_spark.streaming.pubsub import StreamHub

            hub = StreamHub(key_col=key_col, delivery_root=delivery_root)
        workers = None
        if server_cfg is not None:
            from marketstore_spark.config import wire_bgworkers, wire_triggers

            wire_triggers(server_cfg, cat)  # load errors raise pre-bind
            workers = wire_bgworkers(server_cfg)
        srv, thread = serve_background(cat, host=host, port=port, hub=hub)
        gsrv = None
        grpc_port = args.grpc_port if args.grpc_port is not None else (
            server_cfg.grpc_listen_port if server_cfg else None
        )
        if grpc_port is not None:
            from marketstore_spark.grpcfront import serve_grpc_background
            from marketstore_spark.server import DataService

            gsrv, _gthread = serve_grpc_background(
                DataService(cat), host=host, port=grpc_port
            )
        status = {"listening": list(srv.server_address)}
        if gsrv is not None:
            status["grpc"] = [host, gsrv.port]
        print(json.dumps(status), file=out, flush=True)
        try:
            if args.max_seconds is None:
                thread.join()
            else:
                _time.sleep(args.max_seconds)
        finally:
            srv.shutdown()
            if gsrv is not None:
                gsrv.shutdown()
            if workers is not None:
                workers.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
