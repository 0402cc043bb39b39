"""HTTP/2 (RFC 7540) cleartext framing — the transport under the gRPC
front end.

gRPC is HTTP/2 with fixed conventions (POST, ``content-type:
application/grpc``, trailers for status).  The container has no
``h2``/``grpcio`` wheels, so this implements the h2c server and client
cores directly from the public RFC, specialized to what a gRPC
exchange uses: connection preface, SETTINGS negotiation + ACK,
HEADERS (+CONTINUATION, PADDED/PRIORITY stripping), DATA with flow
control on both directions, PING/PONG, WINDOW_UPDATE, RST_STREAM and
GOAWAY.  Server push is never used by gRPC (we advertise
ENABLE_PUSH=0) and is rejected.

The server is connection-per-thread (same posture as server.py's
ThreadingHTTPServer): within a connection, frames are processed
sequentially and a request dispatches when its stream has END_STREAM —
concurrent streams interleave correctly because state is per-stream,
while responses are written in dispatch order.  Flow-controlled sends
block on the peer's window and drain incoming frames (WINDOW_UPDATE,
PING) while waiting, so a large query response cannot deadlock the
connection.

HPACK state (one encoder/decoder pair per connection direction, RFC
7541 §2.2) lives in :mod:`~marketstore_spark.hpacklite`.
"""

from __future__ import annotations

import socket
import struct
import time

from marketstore_spark.hpacklite import Decoder as HpackDecoder
from marketstore_spark.hpacklite import Encoder as HpackEncoder

__all__ = ["H2Server", "H2ClientConnection", "PREFACE"]

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

# frame types (RFC 7540 §6)
DATA = 0x0
HEADERS = 0x1
PRIORITY = 0x2
RST_STREAM = 0x3
SETTINGS = 0x4
PUSH_PROMISE = 0x5
PING = 0x6
GOAWAY = 0x7
WINDOW_UPDATE = 0x8
CONTINUATION = 0x9

# flags
FLAG_END_STREAM = 0x1
FLAG_ACK = 0x1
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

# settings ids (§6.5.2)
SETTINGS_HEADER_TABLE_SIZE = 0x1
SETTINGS_ENABLE_PUSH = 0x2
SETTINGS_MAX_CONCURRENT_STREAMS = 0x3
SETTINGS_INITIAL_WINDOW_SIZE = 0x4
SETTINGS_MAX_FRAME_SIZE = 0x5

DEFAULT_WINDOW = 65535
DEFAULT_MAX_FRAME = 16384

# error codes (§7)
NO_ERROR = 0x0
PROTOCOL_ERROR = 0x1
FLOW_CONTROL_ERROR = 0x3
FRAME_SIZE_ERROR = 0x6


class H2Error(Exception):
    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code


def _read_exact(rfile, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = rfile.read(n - len(buf))
        if not chunk:
            raise ConnectionError("http2: peer closed mid-frame")
        buf += chunk
    return bytes(buf)


def read_frame(rfile, max_frame: int = DEFAULT_MAX_FRAME):
    """Read one frame, bounding its length by OUR advertised
    SETTINGS_MAX_FRAME_SIZE (RFC 7540 §4.2: the peer's setting governs
    frames we SEND, not frames we receive).  This endpoint never
    advertises a larger size, so callers pass the default."""
    head = _read_exact(rfile, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
    if length > max_frame:
        raise H2Error(FRAME_SIZE_ERROR, f"frame of {length} bytes")
    return ftype, flags, stream_id, _read_exact(rfile, length)


def write_frame(wfile, ftype: int, flags: int, stream_id: int, payload: bytes = b""):
    wfile.write(
        len(payload).to_bytes(3, "big")
        + bytes([ftype, flags])
        + (stream_id & 0x7FFFFFFF).to_bytes(4, "big")
        + payload
    )
    wfile.flush()


def _strip_padding(flags: int, payload: bytes, priority_flag: bool) -> bytes:
    """Remove PADDED / PRIORITY prefixes from a HEADERS/DATA payload
    (§6.1/§6.2)."""
    pos = 0
    pad = 0
    if flags & FLAG_PADDED:
        if not payload:
            raise H2Error(PROTOCOL_ERROR, "padded frame with no pad length")
        pad = payload[0]
        pos = 1
    if priority_flag and flags & FLAG_PRIORITY:
        pos += 5  # stream dependency (4) + weight (1)
    if pad > len(payload) - pos:
        raise H2Error(PROTOCOL_ERROR, "pad length exceeds frame")
    return payload[pos : len(payload) - pad]


class _Stream:
    __slots__ = ("blocks", "header_block", "body", "end_headers", "end_stream",
                 "send_window")

    def __init__(self, initial_window: int):
        #: decoded header blocks in arrival order — [initial] or
        #: [initial, trailers]
        self.blocks: list[list[tuple[str, str]]] = []
        self.header_block = bytearray()
        self.body = bytearray()
        self.end_headers = False
        self.end_stream = False
        self.send_window = initial_window


class _ConnectionCore:
    """Frame pump shared by the server and client connection objects."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.rfile = sock.makefile("rb")
        self.wfile = sock.makefile("wb")
        self.hp_dec = HpackDecoder()
        self.hp_enc = HpackEncoder()
        self.streams: dict[int, _Stream] = {}
        self.peer_window = DEFAULT_WINDOW  # connection-level send credit
        self.peer_initial_window = DEFAULT_WINDOW
        self.peer_max_frame = DEFAULT_MAX_FRAME
        #: streams that completed while we were draining frames inside
        #: a flow-blocked send — the serve loop dispatches them next
        self.pending_complete: list[int] = []

    # -- settings -------------------------------------------------------
    def _apply_settings(self, payload: bytes) -> None:
        if len(payload) % 6:
            raise H2Error(FRAME_SIZE_ERROR, "settings payload not 6-aligned")
        for off in range(0, len(payload), 6):
            ident, value = struct.unpack("!HI", payload[off : off + 6])
            if ident == SETTINGS_INITIAL_WINDOW_SIZE:
                if value > 0x7FFFFFFF:
                    raise H2Error(FLOW_CONTROL_ERROR, "initial window > 2^31-1")
                delta = value - self.peer_initial_window
                self.peer_initial_window = value
                for st in self.streams.values():
                    st.send_window += delta
            elif ident == SETTINGS_MAX_FRAME_SIZE:
                if not DEFAULT_MAX_FRAME <= value <= 0xFFFFFF:
                    raise H2Error(PROTOCOL_ERROR, "bad max frame size")
                self.peer_max_frame = value
            elif ident == SETTINGS_HEADER_TABLE_SIZE:
                # our encoder is stateless (never indexes), so a peer
                # table-size change needs no size-update emission
                pass
        write_frame(self.wfile, SETTINGS, FLAG_ACK, 0)

    # -- inbound flow control -------------------------------------------
    def _replenish(self, stream_id: int, n: int) -> None:
        """Hand receive-window credit back for consumed DATA bytes —
        without this a peer streaming >64 KiB of request body stalls."""
        if n <= 0:
            return
        write_frame(self.wfile, WINDOW_UPDATE, 0, 0, struct.pack("!I", n))
        write_frame(self.wfile, WINDOW_UPDATE, 0, stream_id, struct.pack("!I", n))

    # -- one frame ------------------------------------------------------
    def _handle_frame(self, ftype, flags, stream_id, payload) -> int | None:
        """Returns a stream id when that stream just completed
        (END_STREAM with all headers in hand)."""
        if ftype == SETTINGS:
            if flags & FLAG_ACK:
                return None
            self._apply_settings(payload)
            return None
        if ftype == PING:
            if not flags & FLAG_ACK:
                write_frame(self.wfile, PING, FLAG_ACK, 0, payload)
            return None
        if ftype == WINDOW_UPDATE:
            if len(payload) != 4:
                raise H2Error(FRAME_SIZE_ERROR, "window update must be 4 bytes")
            (incr,) = struct.unpack("!I", payload)
            incr &= 0x7FFFFFFF
            if incr == 0:
                raise H2Error(PROTOCOL_ERROR, "zero window increment")
            if stream_id == 0:
                self.peer_window += incr
            elif stream_id in self.streams:
                self.streams[stream_id].send_window += incr
            return None
        if ftype == GOAWAY:
            raise ConnectionError("http2: peer sent GOAWAY")
        if ftype == PUSH_PROMISE:
            raise H2Error(PROTOCOL_ERROR, "push is disabled")
        if ftype in (PRIORITY, RST_STREAM):
            if ftype == RST_STREAM:
                self.streams.pop(stream_id, None)
            return None
        if ftype == HEADERS:
            st = self.streams.setdefault(stream_id, _Stream(self.peer_initial_window))
            block = _strip_padding(flags, payload, priority_flag=True)
            # a second HEADERS on an open stream is the trailers block
            st.header_block += block
            st.end_headers = bool(flags & FLAG_END_HEADERS)
            st.end_stream = st.end_stream or bool(flags & FLAG_END_STREAM)
        elif ftype == CONTINUATION:
            st = self.streams.get(stream_id)
            if st is None:
                raise H2Error(PROTOCOL_ERROR, "continuation without headers")
            st.header_block += payload
            st.end_headers = bool(flags & FLAG_END_HEADERS)
        elif ftype == DATA:
            st = self.streams.get(stream_id)
            if st is None:
                raise H2Error(PROTOCOL_ERROR, "data on idle stream")
            data = _strip_padding(flags, payload, priority_flag=False)
            st.body += data
            self._replenish(stream_id, len(payload))
            st.end_stream = st.end_stream or bool(flags & FLAG_END_STREAM)
        else:
            return None  # unknown frame types are ignored (§4.1)

        st = self.streams.get(stream_id)
        if st is not None and st.end_headers and st.header_block:
            st.blocks.append(self.hp_dec.decode(bytes(st.header_block)))
            st.header_block = bytearray()
        if st is not None and st.end_stream and st.end_headers:
            return stream_id
        return None

    # -- outbound -------------------------------------------------------
    def send_headers(self, stream_id: int, headers, end_stream=False) -> None:
        block = self.hp_enc.encode(headers)
        flags = FLAG_END_HEADERS | (FLAG_END_STREAM if end_stream else 0)
        write_frame(self.wfile, HEADERS, flags, stream_id, block)

    def send_data(self, stream_id: int, data: bytes, end_stream=False) -> None:
        """Flow-controlled DATA send: chunk to the peer's max frame
        size and block on window credit, draining incoming frames
        (WINDOW_UPDATE, PING) while waiting."""
        st = self.streams.get(stream_id)
        view = memoryview(data)
        off = 0
        while off < len(view) or (end_stream and not len(view)):
            budget = min(
                self.peer_window,
                st.send_window if st else self.peer_initial_window,
                self.peer_max_frame,
            )
            if budget <= 0 and len(view):
                # wait for credit; the peer owes us WINDOW_UPDATE.  A
                # multiplexing peer may complete ANOTHER stream while
                # we drain — queue it rather than dropping it.
                done = self._handle_frame(
                    *read_frame(self.rfile)
                )
                if done is not None:
                    self.pending_complete.append(done)
                continue
            chunk = view[off : off + max(budget, 0)]
            off += len(chunk)
            last = off >= len(view)
            write_frame(
                self.wfile,
                DATA,
                FLAG_END_STREAM if (end_stream and last) else 0,
                stream_id,
                bytes(chunk),
            )
            self.peer_window -= len(chunk)
            if st:
                st.send_window -= len(chunk)
            if last:
                return

    def close(self) -> None:
        for f in (self.wfile, self.rfile):
            try:
                f.close()
            except OSError:
                pass
        try:
            self.sock.close()
        except OSError:
            pass


class H2Server(_ConnectionCore):
    """One server-side h2c connection.

    ``handler(headers, body) -> (response_headers, body_bytes,
    trailers)`` — headers are the decoded request pseudo+regular
    fields; a None trailers sends a single HEADERS+DATA response
    (plain HTTP/2), otherwise the gRPC shape HEADERS / DATA / trailers
    (END_STREAM on the trailers frame).
    """

    def __init__(self, sock: socket.socket, handler):
        super().__init__(sock)
        self.handler = handler

    def serve(self) -> None:
        try:
            preface = _read_exact(self.rfile, len(PREFACE))
            if preface != PREFACE:
                raise H2Error(PROTOCOL_ERROR, "bad connection preface")
            # our settings: push disabled (gRPC never uses it)
            write_frame(
                self.wfile, SETTINGS, 0, 0,
                struct.pack("!HI", SETTINGS_ENABLE_PUSH, 0),
            )
            while True:
                done = self._handle_frame(*read_frame(self.rfile))
                if done is not None:
                    self._dispatch(done)
                while self.pending_complete:
                    self._dispatch(self.pending_complete.pop(0))
        except (ConnectionError, OSError):
            pass
        except H2Error as exc:
            try:
                write_frame(
                    self.wfile, GOAWAY, 0, 0,
                    struct.pack("!II", 0, exc.code)
                    + str(exc).encode()[:128],
                )
                # Half-close and drain the peer's unread input (2 s at
                # most) before closing: a close with input unread makes
                # the kernel reset the connection, and the reset can
                # drop the GOAWAY before the peer reads it.
                self.sock.shutdown(socket.SHUT_WR)
                deadline = time.monotonic() + 2.0
                while (left := deadline - time.monotonic()) > 0:
                    self.sock.settimeout(left)
                    if not self.sock.recv(65536):
                        break
            except OSError:
                pass
        finally:
            self.close()

    def _dispatch(self, stream_id: int) -> None:
        st = self.streams.pop(stream_id)
        # keep a live entry for flow-control accounting during the send
        out = _Stream(self.peer_initial_window)
        out.send_window = st.send_window
        self.streams[stream_id] = out
        try:
            req_headers = [h for block in st.blocks for h in block]
            headers, body, trailers = self.handler(req_headers, bytes(st.body))
            if callable(getattr(body, "__next__", None)):
                # server-streaming response (gRPC `stream` RPCs): the
                # handler's body is an ITERATOR of DATA chunks; each is
                # written (and flushed) as it is produced, so a
                # long-lived stream delivers messages as they happen.
                # trailers may be a callable evaluated AFTER the
                # iterator ends (e.g. to report a mid-stream error as
                # a grpc-status trailer).
                self.send_headers(stream_id, headers)
                for chunk in body:
                    if chunk:
                        self.send_data(stream_id, chunk, end_stream=False)
                final = trailers() if callable(trailers) else trailers
                self.send_headers(stream_id, final, end_stream=True)
            elif trailers is None:
                self.send_headers(stream_id, headers, end_stream=not body)
                if body:
                    self.send_data(stream_id, body, end_stream=True)
            else:
                self.send_headers(stream_id, headers)
                if body:
                    self.send_data(stream_id, body, end_stream=False)
                self.send_headers(stream_id, trailers, end_stream=True)
        finally:
            self.streams.pop(stream_id, None)


class H2ClientConnection(_ConnectionCore):
    """Minimal h2c client: sequential request/response exchanges on
    one connection (stream ids 1, 3, 5, …)."""

    def __init__(self, host: str, port: int, timeout: float = 30.0):
        sock = socket.create_connection((host, port), timeout=timeout)
        super().__init__(sock)
        self._next_stream = 1
        self.wfile.write(PREFACE)
        write_frame(self.wfile, SETTINGS, 0, 0)

    def request(self, headers, body: bytes = b""):
        """Send one request; block until END_STREAM.  Returns
        (headers, body, trailers) — trailers is [] for a single-block
        response."""
        stream_id = self._next_stream
        self._next_stream += 2
        st = _Stream(self.peer_initial_window)
        self.streams[stream_id] = st
        self.send_headers(stream_id, headers, end_stream=not body)
        if body:
            self.send_data(stream_id, body, end_stream=True)
        while True:
            # a server may answer before fully consuming the body
            # (e.g. a trailers-only rejection) — the completion then
            # lands in pending_complete during the flow-blocked send
            if stream_id in self.pending_complete:
                self.pending_complete.remove(stream_id)
                done = stream_id
            else:
                done = self._handle_frame(
                    *read_frame(self.rfile)
                )
            if done == stream_id:
                st = self.streams.pop(stream_id)
                head = st.blocks[0] if st.blocks else []
                trailers = st.blocks[1] if len(st.blocks) > 1 else []
                return head, bytes(st.body), trailers

    def request_stream(self, headers, body: bytes = b""):
        """Send one request and return ``(chunks, state)`` for a
        server-streaming response: ``chunks`` is a generator yielding
        DATA payload bytes AS THEY ARRIVE (no end-of-stream wait —
        this is how a long-lived gRPC ``stream`` RPC is consumed);
        ``state`` is the stream object whose ``.blocks`` holds the
        response headers and, once the generator is exhausted, the
        trailers."""
        stream_id = self._next_stream
        self._next_stream += 2
        st = _Stream(self.peer_initial_window)
        self.streams[stream_id] = st
        self.send_headers(stream_id, headers, end_stream=not body)
        if body:
            self.send_data(stream_id, body, end_stream=True)

        def chunks():
            while True:
                done = self._handle_frame(*read_frame(self.rfile))
                if st.body:
                    data = bytes(st.body)
                    st.body.clear()
                    yield data
                if done == stream_id:
                    self.streams.pop(stream_id, None)
                    return

        return chunks(), st
