"""Span recorder for the traced run.

Spans are opened by wrapping public calls of the engine from outside
(``Tracer.wrap``); nothing inside the engine is changed.  Each span
records its name, start, end, parent span and op id; spans stay in
memory and are written out once, when the run ends.

One op is in flight at a time (a closed loop with one client), so a
span opened on a thread with no open span (an RPC handler thread of
the server) is parented to the innermost open span of the thread that
runs the op (the client call waiting for it).
"""

from __future__ import annotations

import functools
import re
import threading
import time
import warnings
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op_id: int | None = None
        self._op_span: int | None = None
        self._op_stack: list[int] = []
        self._undo: list = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> int:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._op_stack[-1] if self._op_stack else self._op_span
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": parent,
                    "op": self._op_id,
                }
            )
        stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        self.spans[sid]["end"] = end

    @contextmanager
    def op(self, op_id):
        """Trace one op: enable recording and open its root span."""
        self.enabled = True
        self._op_id = op_id
        self._op_stack = self._stack()
        self._op_span = self._open("op")
        try:
            yield
        finally:
            self._close(self._op_span)
            self._op_id = self._op_span = None
            self._op_stack = []
            self.enabled = False

    @contextmanager
    def span(self, name: str):
        """A span around benchmark code of the running op."""
        if not self.enabled or self._op_id is None:
            yield
            return
        sid = self._open(name)
        try:
            yield
        finally:
            self._close(sid)

    def count(self, name: str, amount: float = 1.0) -> None:
        if self.enabled and self._op_id is not None:
            with self._lock:
                self.counters[name] += amount

    # -- wrapping public calls ----------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` around each call while the tracer is enabled and an op
        is running.  ``after(result, args, kwargs)`` may add counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer._op_id is None:
                return orig(*args, **kwargs)
            sid = tracer._open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(sid)
            if after is not None:
                after(result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def count_warnings(self, prefix: str, counter: str) -> None:
        """Count warnings whose message starts with ``prefix`` (they are
        shown every time, not once per call site, and not printed)."""
        warnings.filterwarnings("always", message=re.escape(prefix))
        shown = warnings.showwarning
        tracer = self

        def showwarning(message, category, filename, lineno, file=None, line=None):
            if str(message).startswith(prefix):
                tracer.count(counter)
                return
            shown(message, category, filename, lineno, file, line)

        warnings.showwarning = showwarning
        self._undo.append((warnings, "showwarning", shown))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis ------------------------------------------------------
    def closed_spans(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part covered by its children."""
        spans = self.closed_spans()
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(children.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        selfs = self.self_times()
        out: dict[str, dict] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.closed_spans():
            row = out[s["name"]]
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += selfs[s["id"]]
        return dict(out)
