"""WAL-shipping replication over gRPC — the transport twin of
``replication/`` in the reference.

The reference master runs a WAL sender that pushes each flushed
transaction group to replicas over a server-streaming gRPC RPC
(``proto/replication.proto:128 Replication.GetWALStream``,
``replication/sender.go`` + ``grpc_server.go``); each replica runs a
WAL receiver that blocks on the stream and replays every record into
its own store (``receiver.go`` + ``replay.go``), wrapped in a
retry-with-exponential-backoff loop (``retry.go``).

Here the manifest commit log IS the WAL (txn.py — every committed
version is one durable, ordered, replayable record), so the shipped
unit is a *manifest commit*: ``TransactionGroup{key, version,
manifest_json, [new data files]}``.  The wire is the repo's own
pure-stdlib gRPC stack (http2lite/hpacklite/protowire) speaking the
reference's RPC shape: POST ``/proto.Replication/GetWALStream``,
server-streaming ``GetWALStreamResponse{transaction_group: bytes}``
frames.

Two deliberate upgrades over the reference, both on the replica's
durable state rather than new protocol machinery:

* **Resume cursor** — the request carries the replica's per-bucket
  ``next_version`` (read from its own manifest log), so a replica that
  was offline resumes exactly where it stopped, and records always
  apply in version order.  The reference's request is empty — a
  disconnected replica silently loses the gap — and its replayer
  applies records in arrival order (the ``replay.go:39`` "replay
  ordered by transactionGroupID" TODO); the cursor solves both.
  Proto3 unknown-field rules keep the extension wire-compatible both
  ways.
* **Exactly-once replay** — versions are published on the replica with
  txn.py's own ``os.link`` compare-and-swap (``txn.link_manifest``), so
  a re-delivered commit is a no-op (the version exists → already
  replayed), never a duplicate.

Scale posture: replication is a *metadata + new-file* copy — each
record moves one manifest and only the files that commit added, so a
100 TB catalog replicates as an incremental stream sized by the write
rate, not the data size.  The master never rewrites anything: the
sender TAILS the manifest directories (the commit log) and reads
committed immutable files.  Replay is pure filesystem work — no Spark
session on either side of the wire; the replica's catalog is fully
queryable mid-stream because every published version is a complete
snapshot.
"""

from __future__ import annotations

import json
import os
import socketserver
import struct
import threading
import time
import uuid

from marketstore_spark import protowire, txn
from marketstore_spark.grpcfront import GrpcError, _unwrap_unary, _wrap
from marketstore_spark.http2lite import H2ClientConnection, H2Error, H2Server

__all__ = [
    "ReplicationServer",
    "ReplicationReceiver",
    "ReplayGapError",
    "RetryableReplicationError",
    "replay_transaction_group",
    "serve_replication_background",
]

_WAL_PATH = "/proto.Replication/GetWALStream"


class RetryableReplicationError(Exception):
    """Transient transport failure — the receiver's retry loop
    reconnects with backoff (replication/retry.go ErrRetryable)."""


class ReplayGapError(Exception):
    """The stream delivered a version the replica cannot apply without
    skipping commits (non-retryable, like replay errors in
    receiver.go:57 — 'there will be data inconsistency'); re-seed the
    replica or fix the cursor."""


# ---------------------------------------------------------------------
# master side
# ---------------------------------------------------------------------


def _list_buckets(root: str) -> list[str]:
    """Bucket keys (Symbol/Timeframe/AttributeGroup relative paths)
    that have a manifest log under ``root`` — a plain walk, no Spark."""
    out = []
    root = os.path.abspath(root)
    for r, dirs, _fs in os.walk(root):
        if txn.MANIFEST_DIR in dirs:
            out.append(os.path.relpath(r, root))
            dirs.clear()  # buckets don't nest
    return sorted(out)


def _transaction_group(bucket: str, key: str, version: int) -> dict:
    """One WAL record: the manifest of ``version`` plus the data files
    it added relative to ``version - 1`` (all files for version 0 or
    when the predecessor was vacuumed away)."""
    m = txn.read_manifest(bucket, version)
    prev: set[str] = set()
    if version > 0:
        try:
            prev = set(txn.read_manifest(bucket, version - 1)["files"])
        except FileNotFoundError:
            prev = set()  # vacuumed predecessor: ship the full set
    files = []
    for rel in m["files"]:
        if rel in prev:
            continue
        with open(os.path.join(bucket, rel), "rb") as fh:
            files.append({"rel_path": rel, "payload": fh.read()})
    return {
        "key": key,
        "version": version,
        "manifest_json": json.dumps(m),
        "files": files,
    }


class ReplicationServer(socketserver.ThreadingTCPServer):
    """Master-side WAL stream server (grpc_server.go twin).

    Each replica connection gets its own thread tailing the manifest
    log from that replica's cursors; where the reference fans a live
    channel out to per-connection buffers (StreamChannels), here every
    connection reads the same durable log independently — no buffer to
    overflow, and a slow replica only slows itself.
    """

    allow_reuse_address = True
    daemon_threads = True

    def __init__(
        self,
        catalog_root: str,
        host: str = "127.0.0.1",
        port: int = 0,
        poll_interval: float = 0.05,
    ):
        self.catalog_root = os.path.abspath(catalog_root)
        self.poll_interval = poll_interval
        self._stop = threading.Event()
        outer = self

        class _ConnHandler(socketserver.BaseRequestHandler):
            def handle(self):
                H2Server(self.request, outer._handle_request).serve()

        super().__init__((host, port), _ConnHandler)

    @property
    def port(self) -> int:
        return self.server_address[1]

    def shutdown(self) -> None:  # also end live streams
        self._stop.set()
        super().shutdown()

    # -- one GetWALStream connection --------------------------------------
    def _handle_request(self, headers, body):
        hmap = {}
        for name, value in headers:
            hmap.setdefault(name, value)
        if hmap.get(":path") != _WAL_PATH or hmap.get(":method") != "POST":
            return (
                [(":status", "200"), ("content-type", "application/grpc")],
                b"",
                [("grpc-status", "12"),
                 ("grpc-message", f"unknown path {hmap.get(':path')!r}")],
            )
        err: list[str] = []
        try:
            req = protowire.decode("GetWALStreamRequest", _unwrap_unary(body))
            cursors = {
                c["key"]: c["next_version"] for c in req["cursors"]
            }
        except (GrpcError, ValueError) as exc:
            return (
                [(":status", "200"), ("content-type", "application/grpc")],
                b"",
                [("grpc-status", "3"), ("grpc-message", str(exc)[:256])],
            )

        def stream():
            try:
                while not self._stop.is_set():
                    sent = False
                    for key in _list_buckets(self.catalog_root):
                        bucket = os.path.join(self.catalog_root, key)
                        cur = txn.current_version(bucket)
                        if cur is None:
                            continue
                        nxt = cursors.get(key, 0)
                        while nxt <= cur and not self._stop.is_set():
                            tg = _transaction_group(bucket, key, nxt)
                            msg = protowire.encode(
                                "GetWALStreamResponse",
                                {
                                    "transaction_group": protowire.encode(
                                        "TransactionGroup", tg
                                    )
                                },
                            )
                            yield _wrap(msg)
                            nxt += 1
                            sent = True
                        cursors[key] = max(cursors.get(key, 0), nxt)
                    if not sent:
                        # caught up: tail the log (sender.go blocks on
                        # its channel; the durable-log analogue is a
                        # short poll)
                        self._stop.wait(self.poll_interval)
            except Exception as exc:  # noqa: BLE001 — report via trailer
                err.append(f"{type(exc).__name__}: {exc}")

        def trailers():
            if err:
                return [("grpc-status", "2"), ("grpc-message", err[0][:512])]
            return [("grpc-status", "0"), ("grpc-message", "")]

        return (
            [(":status", "200"), ("content-type", "application/grpc")],
            stream(),
            trailers,
        )


def serve_replication_background(
    catalog_root: str, host: str = "127.0.0.1", port: int = 0, **kw
):
    """Start a ReplicationServer on a daemon thread; returns
    (server, thread) — mirrors serve_grpc_background."""
    srv = ReplicationServer(catalog_root, host, port, **kw)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, thread


# ---------------------------------------------------------------------
# replica side
# ---------------------------------------------------------------------


def replay_transaction_group(replica_root: str, tg: dict) -> bool:
    """Apply one WAL record to the replica catalog (replay.go twin).

    Data files land first (tmp + rename — a record is never readable
    half-written), then the manifest publishes atomically at the
    SOURCE's version number.  Returns True if the record advanced the
    replica, False if it was already applied (idempotent re-delivery).
    Raises :class:`ReplayGapError` when applying it would skip commits.
    """
    key, version = tg["key"], tg["version"]
    if os.path.isabs(key) or ".." in key.split("/"):
        raise ReplayGapError(f"unsafe bucket key {key!r}")
    bucket = os.path.join(os.path.abspath(replica_root), key)
    cur = txn.current_version(bucket)
    if cur is not None and cur >= version:
        return False
    if version > 0 and cur != version - 1:
        raise ReplayGapError(
            f"bucket {key!r}: stream delivered v{version} but replica "
            f"is at v{cur} — re-seed or fix the cursor"
        )
    for f in tg["files"]:
        rel = f["rel_path"]
        if os.path.isabs(rel) or ".." in rel.split("/"):
            raise ReplayGapError(f"unsafe data file path {rel!r}")
        path = os.path.join(bucket, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.inflight-{uuid.uuid4().hex[:12]}"
        with open(tmp, "wb") as fh:
            fh.write(f["payload"])
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    return txn.link_manifest(bucket, version, tg["manifest_json"])


def replica_cursors(replica_root: str) -> dict[str, int]:
    """The replica's durable resume point: per bucket, the next
    version it needs (current + 1).  This is read from the replica's
    OWN manifest log — no separate cursor file to desync."""
    out = {}
    for key in _list_buckets(replica_root):
        cur = txn.current_version(os.path.join(replica_root, key))
        out[key] = 0 if cur is None else cur + 1
    return out


class ReplicationReceiver:
    """Replica-side WAL receiver (receiver.go + retry.go twin): connect
    to the master's stream, replay every record, reconnect with
    exponential backoff on transport failure.  ``stop()`` ends the loop
    cleanly from another thread."""

    def __init__(
        self,
        replica_root: str,
        host: str,
        port: int,
        retry_interval: float = 0.05,
        backoff_coeff: int = 2,
        max_retries: int = 30,
        max_retry_delay: float = 30.0,
    ):
        self.replica_root = os.path.abspath(replica_root)
        self.host = host
        self.port = port
        self.retry_interval = retry_interval
        self.backoff_coeff = backoff_coeff
        self.max_retries = max_retries
        self.max_retry_delay = max_retry_delay
        self.replayed = 0  # records that advanced the replica
        self.redelivered = 0  # records skipped by the exactly-once guard
        self._stop = threading.Event()
        self._conn: H2ClientConnection | None = None

    def stop(self) -> None:
        self._stop.set()
        conn = self._conn
        if conn is not None:
            # shutdown(2), NOT close(): the receiver thread is blocked
            # inside rfile.read() holding the BufferedReader lock —
            # close() from this thread would block on that same lock
            # (deadlock); shutdown unblocks the read with EOF and the
            # receiver thread closes its own connection on the way out
            import socket as _socket

            try:
                conn.sock.shutdown(_socket.SHUT_RDWR)
            except OSError:
                pass

    # -- one connection (receiver.go Run) ---------------------------------
    def run_once(self) -> None:
        try:
            conn = H2ClientConnection(self.host, self.port, timeout=30.0)
        except OSError as exc:
            raise RetryableReplicationError(f"connect: {exc}") from exc
        self._conn = conn
        try:
            conn.sock.settimeout(None)  # the tail read blocks on purpose
            req = protowire.encode(
                "GetWALStreamRequest",
                {
                    "cursors": [
                        {"key": k, "next_version": v}
                        for k, v in sorted(
                            replica_cursors(self.replica_root).items()
                        )
                    ]
                },
            )
            headers = [
                (":method", "POST"),
                (":scheme", "http"),
                (":path", _WAL_PATH),
                (":authority", f"{self.host}:{self.port}"),
                ("content-type", "application/grpc"),
                ("te", "trailers"),
            ]
            chunks, st = conn.request_stream(headers, _wrap(req))
            buf = b""
            for chunk in chunks:
                buf += chunk
                while len(buf) >= 5:
                    if buf[0]:
                        raise ReplayGapError("compressed WAL frame")
                    (ln,) = struct.unpack("!I", buf[1:5])
                    if len(buf) < 5 + ln:
                        break
                    msg, buf = buf[5 : 5 + ln], buf[5 + ln :]
                    resp = protowire.decode("GetWALStreamResponse", msg)
                    tg = protowire.decode(
                        "TransactionGroup", resp["transaction_group"]
                    )
                    if replay_transaction_group(self.replica_root, tg):
                        self.replayed += 1
                    else:
                        self.redelivered += 1
            # clean end of stream: inspect the trailers
            trailers = dict(st.blocks[-1]) if len(st.blocks) > 1 else {}
            status = trailers.get("grpc-status", "0")
            if status not in ("", "0"):
                raise RetryableReplicationError(
                    f"master closed stream: grpc-status {status} "
                    f"{trailers.get('grpc-message', '')!r}"
                )
        except ReplayGapError:
            raise  # non-retryable, like replay errors in receiver.go:57
        except (ConnectionError, OSError, H2Error, ValueError) as exc:
            # ValueError: stop() closing the socket file object from
            # another thread surfaces as "I/O operation on closed file"
            # in the blocked read
            if self._stop.is_set():
                return
            if isinstance(exc, ValueError):
                raise
            raise RetryableReplicationError(str(exc)) from exc
        finally:
            self._conn = None
            conn.close()

    # -- retry loop (retry.go Run) -----------------------------------------
    def run(self) -> None:
        """Stream until the master closes the stream (a clean EOF ends
        the receiver, receiver.go:46), ``stop()`` is called, or a
        non-retryable error surfaces.  Transient failures reconnect
        after ``interval * coeff**attempt`` — the cursor makes every
        reconnect resume exactly where the last connection broke; a
        connection that made progress resets the backoff."""
        attempt = 0
        while not self._stop.is_set():
            progress = self.replayed + self.redelivered
            try:
                self.run_once()
                return  # clean stream end: master closed (EOF)
            except RetryableReplicationError:
                if self._stop.is_set():
                    return
                if self.replayed + self.redelivered > progress:
                    attempt = 0
                if attempt >= self.max_retries:
                    raise
                # capped so a persistent outage exhausts max_retries in
                # bounded time (uncapped, 0.05*2**29 s is ~310 days),
                # and waited on the stop event so stop() wakes the loop
                # immediately mid-backoff instead of after the sleep
                delay = min(
                    self.retry_interval * self.backoff_coeff**attempt,
                    self.max_retry_delay,
                )
                if self._stop.wait(delay):
                    return
                attempt += 1

    def run_in_background(self) -> threading.Thread:
        thread = threading.Thread(target=self.run, daemon=True)
        thread.start()
        return thread
