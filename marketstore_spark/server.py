"""JSON-RPC wire frontend: the serving analogue of the reference's
msgpack-RPC endpoint (frontend/server.go registers ``DataService`` on
``/rpc`` via gorilla JSON-RPC-over-msgpack; frontend/query.go:91 Query,
frontend/write.go:36/70/152/182 Write/Create/GetInfo/Destroy,
frontend/query.go:264 ListSymbols).

Spark-first substitutions, stated plainly:

- **Dual codec: JSON and msgpack** — the reference registers its
  msgpack codec for ``application/x-msgpack`` (frontend/server.go:74)
  over gorilla JSON-RPC-2.0 envelopes; this server negotiates on the
  request Content-Type and serves BOTH, the msgpack frames via the
  pure-stdlib codec in :mod:`marketstore_spark.msgpacklite` (no
  dependency needed — the format spec is public and small).  Request
  and response field names mirror the reference's msgpack tags
  (``destination``, ``epoch_start``, ``limit_record_count``, ...), so
  a reference-shaped msgpack-RPC client interoperates at the envelope
  level.
- **gRPC transport** — the reference also serves DataService over
  gRPC (proto/marketstore.proto:163, frontend/grpc.go); grpcio is not
  installable in this container, so :mod:`marketstore_spark.grpcfront`
  serves the same proto service over a pure-stdlib HTTP/2 + HPACK +
  protobuf-wire stack (http2lite/hpacklite/protowire), dispatching
  into the SAME DataService instance this module hosts.  The
  reference's websocket push interface is served
  natively at ``GET /ws`` (frontend/stream/stream.go message shapes
  over the pure-stdlib RFC 6455 layer in
  :mod:`marketstore_spark.websocket`), with ``GET /stream`` kept as
  the long-poll fallback for clients without sockets.
- **Control plane only.**  The reference streams bulk data through its
  custom NumpyMultiDataset wire format; our bulk path is Arrow via
  ``client.DataSet.arrays()/df()`` in-process.  The RPC server returns
  column-major JSON (the ColumnSeries name→array map, timestamps as
  epoch **nanoseconds** like the reference's Epoch index) and is meant
  for control-plane parity and modest result sets, not 100 TB scans —
  at scale the *query* runs distributed and only the reduced result
  crosses this wire, which is the same posture as the reference (one
  server process marshals the final ColumnSeriesMap).
- **Threaded stdlib server** over a shared SparkSession: Spark
  sessions accept concurrent job submission, so each HTTP thread
  plans/collects independently (the reference serves each RPC on a Go
  routine over one shared catalog; same shape).

Runs under pytest with a live ephemeral-port server (the driver's
correctness gate never touches this surface — wire serving is
pytest-only by design, SURVEY §2).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd

from marketstore_spark import msgpacklite
from marketstore_spark.catalog import Catalog
from marketstore_spark.client import Client, Params

_SUBSCRIBE_LOCK = threading.Lock()

#: Upper bound on distinct long-poll glob subscriptions per server —
#: each one is a durable delivery stream (see do_GET).
_MAX_HTTP_SUBSCRIBERS = 64

_PARSE_ERROR = -32700
_INVALID_REQUEST = -32600
_METHOD_NOT_FOUND = -32601
_INVALID_PARAMS = -32602
_SERVER_ERROR = -32000


def _column_series(pdf: pd.DataFrame) -> dict:
    """name→values map (utils/io ColumnSeries); datetimes → epoch ns."""
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # astype(int64) turns NaT into INT64_MIN — mask to None so
            # missing timestamps serialize as null like every other
            # column's NaN does.
            ns = s.astype("datetime64[ns]").astype("int64")
            out[c] = [
                None if miss else int(v) for v, miss in zip(ns, s.isna())
            ]
        else:
            # pd.isna on a list/ndarray cell (array columns) returns an
            # array — only scalar cells get the NaN→None normalization
            def conv(v):
                if isinstance(v, (list, tuple)):
                    return list(v)
                if getattr(v, "ndim", 0):  # ndarray cell
                    return v.tolist()
                return None if pd.isna(v) else v

            out[c] = [conv(v) for v in s.tolist()]
    return out


class DataService:
    """RPC method table.  One instance per server; stateless between
    calls except for the catalog it fronts."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self.client = Client(catalog)

    # -- DataService.Query (frontend/query.go:91 MultiQueryRequest) ------
    def Query(self, params: dict) -> dict:
        responses = []
        for req in params.get("requests", []):
            dest = req["destination"]
            sym, tf, ag = dest.split("/")
            p = Params(
                symbols=sym.split(","),
                timeframe=tf,
                attrgroup=ag,
                start=_ns_ts(req.get("epoch_start")),
                end=_ns_ts(req.get("epoch_end")),
                limit=req.get("limit_record_count"),
                limit_from_start=bool(req.get("limit_from_start", False)),
                columns=req.get("columns"),
                functions=req.get("functions", []),
            )
            reply = self.client.query(p)
            responses.append(
                {
                    "result": {
                        ds.key: _column_series(ds.df()) for ds in reply.all().values()
                    }
                }
            )
        return {"responses": responses}

    # -- DataService.SQL (frontend/query.go:118 executeSQL) --------------
    def SQL(self, params: dict) -> dict:
        statements = params.get("statements") or [params["statement"]]
        out = []
        for stmt in statements:
            out.append({"result": _column_series(self.client.sql(stmt).toPandas())})
        return {"responses": out}

    # -- DataService.Write (frontend/write.go:36 MultiWriteRequest) ------
    def Write(self, params: dict) -> dict:
        responses = []
        for req in params.get("requests", []):
            tbk = req["key"]
            data = req["data"]  # ColumnSeries map; ts columns in epoch ns
            pdf = _ns_frame(data)
            self.client.write(pdf, tbk, mode=req.get("mode", "append"))
            responses.append({"error": None, "version": None})
        return {"responses": responses}

    # -- DataService.Create (frontend/write.go:70) -----------------------
    def Create(self, params: dict) -> dict:
        responses = []
        for req in params.get("requests", []):
            sample = _ns_frame(req)
            self.catalog.create(
                req["key"], self.catalog.spark.createDataFrame(sample)
            )
            responses.append({"error": None})
        return {"responses": responses}

    # -- DataService.Destroy (frontend/write.go:182) ---------------------
    def Destroy(self, params: dict) -> dict:
        responses = []
        for req in params.get("requests", []):
            self.catalog.destroy(req["key"])
            responses.append({"error": None})
        return {"responses": responses}

    # -- DataService.GetInfo (frontend/write.go:152) ---------------------
    def GetInfo(self, params: dict) -> dict:
        responses = []
        for req in params.get("requests", []):
            info = self.catalog.get_info(req["key"])
            info = {
                k: (v.isoformat() if hasattr(v, "isoformat") else v)
                for k, v in info.items()
            }
            responses.append(info)
        return {"responses": responses}

    # -- DataService.ListSymbols (frontend/query.go:264) -----------------
    def ListSymbols(self, params: dict) -> dict:
        fmt = (params or {}).get("format", "symbol")
        return {"results": self.catalog.list_symbols(format=fmt)}

    # -- DataService.ServerVersion (proto/marketstore.proto:163;
    #    frontend ServerVersion RPC) ---------------------------------------
    def ServerVersion(self, params: dict) -> dict:
        from marketstore_spark import __version__

        return {"version": __version__}


_RPC_METHODS = frozenset(
    [
        "Query",
        "SQL",
        "Write",
        "Create",
        "Destroy",
        "GetInfo",
        "ListSymbols",
        "ServerVersion",
    ]
)


def _ns_ts(epoch_ns):
    if epoch_ns is None:
        return None
    return pd.Timestamp(epoch_ns, unit="ns")


def _ns_frame(req: dict) -> pd.DataFrame:
    """A request's ``columns`` ColumnSeries map as pandas, its epoch-ns
    ``ts_columns`` (default ``ts``; those present) as datetimes floored
    to µs, Spark's timestamp precision: Arrow refuses to drop sub-µs
    digits, so unfloored stamps push ``createDataFrame`` onto pyspark's
    row fallback, which floors them the same way."""
    pdf = pd.DataFrame(req["columns"])
    for c in req.get("ts_columns", ["ts"]):
        if c in pdf.columns:
            pdf[c] = pd.to_datetime(pdf[c], unit="ns").dt.floor("us")
    return pdf


class _Handler(BaseHTTPRequestHandler):
    service: DataService  # set by make_server
    hub = None  # optional streaming.pubsub.StreamHub, set by make_server
    metrics = None  # MetricsRegistry, set by make_server

    def log_message(self, *a):  # quiet under pytest
        pass

    def do_GET(self):  # noqa: N802  (http.server API)
        """Client-facing live-stream endpoint (frontend/stream/stream.go
        websocket push, as HTTP long-poll): ``GET /stream?streams=<glob>
        [&cursor=N][&timeout=S]`` subscribes the glob on the attached
        StreamHub and blocks until rows past ``cursor`` arrive in the
        subscriber's delivery directory (or the timeout lapses).  The
        reply is ``{"cursor": M, "payloads": [...]}`` — re-issue with
        the returned cursor to continue; an idle poll returns an empty
        payload list with the cursor unchanged.  The glob matching and
        fan-out stay executor-side in the hub's foreachBatch broadcast
        join; this handler only tails the (already per-subscriber)
        delivery directory — the client-visible analogue of a
        subscription socket, without the driver touching batch rows."""
        # GET paths always speak JSON/text — reset the per-request codec
        # flag a prior msgpack POST on this keep-alive connection left
        # set on the handler instance.
        self._msgpack = False
        import time
        import urllib.parse as up

        parsed = up.urlsplit(self.path)
        if parsed.path == "/metrics":
            # Prometheus scrape endpoint on the serving listener — the
            # reference registers promhttp on its HTTP mux the same way
            # (metrics/metrics.go; utils/log counters).  Text format,
            # no auth, read-only.
            body = self.metrics.render_prometheus().encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if parsed.path == "/debug/timings":
            # pprof-analogue profiling surface (frontend/profile.go
            # registers net/http/pprof on the same mux): per-RPC
            # latency histograms + counters the registry already
            # collects, as JSON for ad-hoc inspection — the JVM/Python
            # runtimes' own profilers cover the CPU-sampling half of
            # pprof, which doesn't translate to a Spark driver.
            snap = self.metrics.snapshot()
            body = json.dumps(
                {
                    "rpc": {
                        k: v
                        for k, v in snap["histograms"].items()
                        if k.startswith("rpc_request_seconds")
                    },
                    "counters": snap["counters"],
                },
                default=str,
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if parsed.path == "/ws":
            self._do_ws()
            return
        if parsed.path != "/stream":
            self.send_error(404)
            return
        if self.hub is None:
            self._reply(
                None,
                error={"code": _SERVER_ERROR, "message": "no stream hub attached"},
            )
            return
        q = up.parse_qs(parsed.query)
        pattern = (q.get("streams") or [""])[0]
        if not pattern:
            self._reply(
                None,
                error={"code": _INVALID_PARAMS, "message": "streams= glob required"},
            )
            return
        try:
            cursor = int((q.get("cursor") or ["0"])[0])
            timeout = float((q.get("timeout") or ["30"])[0])
        except ValueError:
            self._reply(
                None,
                error={"code": _INVALID_PARAMS, "message": "bad cursor/timeout"},
            )
            return
        if not (0.0 <= timeout <= 60.0):
            # NaN fails every comparison, so it lands here too — without
            # this a timeout=nan deadline would never be reached and the
            # poll loop would pin its handler thread forever.
            self._reply(
                None,
                error={"code": _INVALID_PARAMS, "message": "timeout must be in [0, 60]"},
            )
            return
        if cursor < 0:
            # A negative cursor would skip the long-poll wait AND slice
            # rows[cursor:] from the END — silently dropping every
            # unseen row before the last |cursor|.
            self._reply(
                None,
                error={"code": _INVALID_PARAMS, "message": "cursor must be >= 0"},
            )
            return
        name, sub_err = self._ensure_subscriber(pattern)
        if sub_err:
            self._reply(None, error={"code": _SERVER_ERROR, "message": sub_err})
            return
        # wait on the footer-metadata row count (O(#files) per tick);
        # materialize rows only once, after the wait resolves
        deadline = time.monotonic() + timeout
        while (
            self.hub.delivered_count(name) <= cursor
            and time.monotonic() < deadline
        ):
            time.sleep(0.2)
        rows = self.hub.delivered(name)
        rows.sort(key=lambda r: r.get("__batch_id", 0))
        self._reply(None, result={"cursor": len(rows), "payloads": rows[cursor:]})

    def _ensure_subscriber(self, pattern: str) -> tuple[str, str | None]:
        """One durable hub subscriber per distinct glob, shared by every
        poller/socket of that glob (delivery directories are
        append-only, so concurrent consumers just read at different
        cursors); the lock closes the check-then-subscribe race between
        two first consumers of the same glob (a duplicate subscriber
        would double-deliver every matched row forever).  Returns
        (name, error): error is set when the distinct-glob cap is hit —
        every distinct glob creates a DURABLE delivery directory, so an
        enumerated or typo'd glob stream must not grow disk without
        bound (the reference's stream server likewise bounds its
        per-connection subscription list)."""
        import hashlib

        name = "http-" + hashlib.md5(pattern.encode()).hexdigest()[:10]
        with _SUBSCRIBE_LOCK:
            if not any(s.name == name for s in self.hub.subscribers):
                http_subs = sum(
                    1 for s in self.hub.subscribers if s.name.startswith("http-")
                )
                if http_subs >= _MAX_HTTP_SUBSCRIBERS:
                    return name, (
                        "subscriber limit reached "
                        f"({_MAX_HTTP_SUBSCRIBERS} distinct globs)"
                    )
                self.hub.subscribe(name, pattern)
        return name, None

    #: server→client keepalive ping period (stream.go's pingPeriod is
    #: 54s; class attribute so tests can shrink it on the bound handler)
    ws_ping_interval = 45.0

    def _do_ws(self):
        """Websocket push endpoint — ``GET /ws``, the reference's
        streaming interface (cmd/start/main.go:129 →
        frontend/stream/stream.go): after the RFC 6455 upgrade the
        client sends a msgpack ``{"streams": [globs]}`` subscribe
        (validated against the 3-element TBK shape, stream.go:141
        validStream); the server acks by echoing the subscribe frame
        (or a msgpack ``{"error": ...}``, stream.go:180) and from then
        on PUSHES every matching written row as a msgpack ``{"key":
        tbk, "data": row}`` binary frame (stream.go:236 Payload).  A
        later subscribe REPLACES the stream set (stream.go:136).

        The push source is the same executor-side hub fan-out the
        long-poll uses — this handler only tails per-subscriber
        delivery directories and frames new rows; no batch row ever
        transits the driver because of a socket."""
        import select
        import time

        from marketstore_spark import websocket as ws

        wskey = self.headers.get("Sec-WebSocket-Key")
        if (self.headers.get("Upgrade", "") or "").lower() != "websocket" or not wskey:
            self.send_error(400, "websocket upgrade required")
            return
        if self.hub is None:
            self.send_error(503, "no stream hub attached")
            return
        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", ws.accept_key(wskey))
        self.end_headers()
        self.wfile.flush()
        self.close_connection = True
        self.metrics.inc("ws_connections_total")
        sock = self.connection
        # Drain any bytes a client pipelined behind its handshake out
        # of the handler's buffered rfile — the frame reader works on
        # the raw socket, so bytes stranded in rfile's buffer would be
        # silently lost and corrupt framing.  read1 returns buffered
        # bytes without a syscall; on an empty buffer the non-blocking
        # raw read raises and we carry on with none.
        pending = b""
        try:
            sock.settimeout(0.0)
            pending = self.rfile.read1(65536) or b""
        except (BlockingIOError, OSError, ValueError):
            pending = b""
        finally:
            sock.settimeout(None)
        # require_masked: RFC 6455 §5.1 — a server must fail the
        # connection on an unmasked client frame.
        conn = ws.Conn(sock, initial=pending, require_masked=True)
        # glob -> [subscriber name, cursor]; cursor starts at the
        # CURRENT delivered count so only rows written after the
        # subscribe are pushed (the reference pushes on write, never
        # history)
        active: dict[str, list] = {}
        last_ping = time.monotonic()
        try:
            while True:
                readable, _, _ = select.select([sock], [], [], 0.2)
                if not readable and not conn.pending:
                    self._ws_push(conn, active)
                    if time.monotonic() - last_ping > self.ws_ping_interval:
                        conn.ping()
                        last_ping = time.monotonic()
                    continue
                sock.settimeout(10.0)
                try:
                    op, payload = conn.read_message()
                except (ConnectionError, ValueError, OSError):
                    return
                if op == ws.OP_CLOSE:
                    conn.close()
                    return
                if op == ws.OP_PONG:
                    continue
                self._ws_subscribe(conn, payload, active)
        except OSError:
            return

    def _ws_subscribe(self, conn, payload: bytes, active: dict) -> None:
        """Handle one inbound subscribe frame (msgpack SubscribeMessage,
        stream.go:103): validate, swap the stream set, ack by echo."""
        try:
            msg = msgpacklite.unpackb(payload)
            streams = [str(s) for s in (msg.get("streams") or [])]
        except (ValueError, AttributeError, TypeError):
            conn.send(msgpacklite.packb({"error": "malformed subscribe message"}))
            return
        err = None
        for s in streams:
            parts = s.split("/")
            if len(parts) != 3 or not all(parts):
                err = f"{s} is an invalid stream"
                break
        if err is None and streams:
            fresh: dict[str, list] = {}
            for s in streams:
                name, sub_err = self._ensure_subscriber(s)
                if sub_err:
                    err = sub_err
                    break
                fresh[s] = active.get(s) or [name, self.hub.delivered_count(name)]
            if err is None:
                active.clear()
                active.update(fresh)
        if err is not None:
            conn.send(msgpacklite.packb({"error": err}))
        else:
            conn.send(payload)

    def _ws_push(self, conn, active: dict) -> None:
        """Frame and send rows delivered past each glob's cursor.  The
        cheap footer-metadata count gates materialization (the
        long-poll's O(#files) probe); rows are read only when new ones
        exist."""
        for _glob, state in active.items():
            name, cursor = state
            if self.hub.delivered_count(name) <= cursor:
                continue
            rows = self.hub.delivered(name)
            rows.sort(key=lambda r: r.get("__batch_id", 0))
            for row in rows[cursor:]:
                key = row.get(self.hub.key_col)
                conn.send(
                    msgpacklite.packb({"key": key, "data": row}, default=str)
                )
                self.metrics.inc("ws_pushed_total")
            state[1] = len(rows)

    def do_POST(self):  # noqa: N802  (http.server API)
        if self.path != "/rpc":
            self.send_error(404)
            return
        # Content negotiation (frontend/server.go:74 registers the
        # msgpack codec for application/x-msgpack alongside JSON):
        # the reply is encoded in the REQUEST's codec, so a
        # reference-shaped msgpack-RPC client and the JSON path share
        # one dispatch.
        ctype = (self.headers.get("Content-Type") or "").lower()
        self._msgpack = "msgpack" in ctype
        try:
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            req = msgpacklite.unpackb(bytes(body)) if self._msgpack else json.loads(body)
        except (ValueError, TypeError):
            self._reply(None, error={"code": _PARSE_ERROR, "message": "parse error"})
            return
        if not isinstance(req, dict):
            # Valid JSON but not a request object (batch array, bare
            # string, ...) — JSON-RPC invalid request, not a raw 500.
            self._reply(
                None,
                error={"code": _INVALID_REQUEST, "message": "request must be an object"},
            )
            return
        rid = req.get("id")
        method = str(req.get("method", ""))
        prefix = "DataService."
        # Explicit allowlist — a hasattr() check would also expose
        # dunders (DataService.__init__ over the wire replaces the
        # catalog and bricks the service) and any future helper.
        name = method[len(prefix):] if method.startswith(prefix) else ""
        if name not in _RPC_METHODS:
            self._reply(rid, error={"code": _METHOD_NOT_FOUND, "message": method})
            return
        params = req.get("params")
        if params is None:
            params = {}
        if not isinstance(params, dict):
            self._reply(rid, error={"code": _INVALID_PARAMS, "message": "params must be an object"})
            return
        # requests_total counts every dispatch (errors are a SUBSET via
        # errors_total — counting only successes would push error-rate
        # ratios past 1 and undercount traffic).
        self.metrics.inc("rpc_requests_total", method=name)
        try:
            with self.metrics.time("rpc_request_seconds", method=name):
                result = getattr(self.service, name)(params)
        except Exception as ex:  # surface as RPC error, keep serving
            self.metrics.inc("rpc_errors_total", method=name)
            self._reply(
                rid,
                error={"code": _SERVER_ERROR, "message": f"{type(ex).__name__}: {ex}"},
            )
            return
        self._reply(rid, result=result)

    #: reply codec flag; do_POST flips it per request, GET paths
    #: (long-poll /stream, /metrics) always speak JSON/text.
    _msgpack = False

    def _reply(self, rid, result=None, error=None) -> None:
        payload = {"jsonrpc": "2.0", "id": rid}
        payload["error" if error is not None else "result"] = (
            error if error is not None else result
        )
        if self._msgpack:
            data = msgpacklite.packb(payload, default=str)
            ctype = "application/x-msgpack"
        else:
            data = json.dumps(payload, default=str).encode()
            ctype = "application/json"
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


def make_server(
    catalog: Catalog, host: str = "127.0.0.1", port: int = 0, hub=None
) -> ThreadingHTTPServer:
    """Build (but don't start) the RPC server; ``port=0`` binds an
    ephemeral port (``server.server_address[1]`` reads it back).
    ``hub`` (a streaming.pubsub.StreamHub) enables the ``GET /stream``
    long-poll subscription endpoint.  RPC counters land in the
    catalog's own registry, so ``/metrics`` shows reads and writes too."""
    service = DataService(catalog)
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"service": service, "hub": hub, "metrics": catalog.metrics},
    )
    return ThreadingHTTPServer((host, port), handler)


def serve_background(
    catalog: Catalog, host: str = "127.0.0.1", port: int = 0, hub=None
):
    """Start the server on a daemon thread; returns (server, thread).
    ``server.shutdown()`` stops it."""
    srv = make_server(catalog, host, port, hub=hub)
    t = threading.Thread(target=srv.serve_forever, name="msdb-rpc", daemon=True)
    t.start()
    return srv, t
