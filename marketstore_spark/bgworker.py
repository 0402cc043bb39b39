"""Background-worker plugin loader — the bgworker surface.

Reference: ``plugins/bgworker/bgworker.go`` — a plugin module exposes
``NewBgWorker(config) -> BgWorker`` (an object with ``Run()``), loaded
from the server config's ``bgworkers:`` list and started on its own
goroutine before the query interface comes up.  The Python-native
equivalent of the .so + symbol-loader machinery is importlib: a worker
spec names a module (and optionally a factory attribute, default
``new_bg_worker``), the factory receives the config dict, and each
worker's ``run()`` gets a daemon thread.  Failure semantics follow the
reference: a worker that raises is logged and isolated — it never
takes the host down ("the server does not handle panics ... better to
just let it go" — bgworker.go header), and a bad spec fails at load
time, not run time.

The feeder and ondiskagg streaming jobs in this repo are
exactly the things a deployment would mount here (each exposes a
start-returning-handle API already); ``StreamingQueryWorker`` adapts
any of them to the worker interface.
"""

from __future__ import annotations

import importlib
import threading
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Protocol


class BgWorker(Protocol):
    """A background worker only needs ``run()`` (BgWorker.Run)."""

    def run(self) -> None: ...


@dataclass
class WorkerSpec:
    """One ``bgworkers:`` config entry: module path + optional factory
    attribute + plugin-specific config dict."""

    module: str
    name: str
    config: dict = field(default_factory=dict)
    factory: str = "new_bg_worker"


class WorkerHandle:
    def __init__(self, spec: WorkerSpec, worker: BgWorker):
        self.spec = spec
        self.worker = worker
        self.thread: threading.Thread | None = None
        self.error: BaseException | None = None

    @property
    def alive(self) -> bool:
        return self.thread is not None and self.thread.is_alive()


def load_worker(spec: WorkerSpec) -> BgWorker:
    """Import the module, resolve the factory, build the worker
    (bgworker.Load).  Raises at LOAD time for a missing module/factory
    or a factory that returns a non-runnable — config errors must
    surface before anything starts."""
    mod = importlib.import_module(spec.module)
    factory: Callable[[dict], Any] | None = getattr(mod, spec.factory, None)
    if factory is None:
        raise AttributeError(
            f"bgworker module {spec.module!r} has no {spec.factory!r} factory"
        )
    worker = factory(dict(spec.config))
    if not callable(getattr(worker, "run", None)):
        raise TypeError(
            f"{spec.module}.{spec.factory} returned {type(worker).__name__}, "
            "which has no run() — does not comply with the BgWorker interface"
        )
    return worker


class BgWorkerHost:
    """Loads and supervises the configured workers (the server's
    bgworker startup loop)."""

    def __init__(self, log: Callable[[str], None] = print):
        self.handles: list[WorkerHandle] = []
        self._log = log

    def load(self, specs: list[WorkerSpec | dict]) -> list[WorkerHandle]:
        for raw in specs:
            spec = raw if isinstance(raw, WorkerSpec) else WorkerSpec(**raw)
            self.handles.append(WorkerHandle(spec, load_worker(spec)))
        return self.handles

    def start(self) -> None:
        """One daemon thread per worker; a worker raising is recorded
        on its handle and logged, never propagated."""
        for h in self.handles:
            if h.thread is not None:
                continue

            def run(h: WorkerHandle = h) -> None:
                try:
                    h.worker.run()
                except BaseException as exc:  # noqa: BLE001 — isolate plugin
                    h.error = exc
                    self._log(
                        f"bgworker {h.spec.name!r} died: "
                        f"{traceback.format_exception_only(exc)[-1].strip()}"
                    )

            h.thread = threading.Thread(
                target=run, daemon=True, name=f"bgworker-{h.spec.name}"
            )
            h.thread.start()

    def stop(self, timeout: float = 10.0) -> None:
        """Cooperative shutdown: workers exposing ``stop()`` get it
        called, then threads are joined."""
        for h in self.handles:
            stop = getattr(h.worker, "stop", None)
            if callable(stop):
                try:
                    stop()
                except Exception:  # noqa: BLE001 — isolate plugin
                    pass
        for h in self.handles:
            if h.thread is not None:
                h.thread.join(timeout=timeout)


class CompactionWorker:
    """Periodic small-file compaction — the maintenance job a
    deployment mounts as a bgworker (the reference runs equivalent
    upkeep inside its storage engine; here fragmentation shows up as
    append-commit file counts, measured from the manifest, and
    ``Catalog.compact`` is the fix).

    Each sweep compacts every pattern-matched bucket whose live file
    count exceeds ``max_files``.  ``interval_s`` paces sweeps; the
    first sweep runs immediately on start."""

    def __init__(
        self,
        catalog,
        pattern: str = "*",
        max_files: int = 16,
        interval_s: float = 3600.0,
    ):
        self.catalog = catalog
        self.pattern = pattern
        self.max_files = max_files
        self.interval_s = interval_s
        self.compacted: list[str] = []
        self._stop = threading.Event()

    def sweep(self) -> list[str]:
        import fnmatch

        from marketstore_spark import txn
        from marketstore_spark.catalog import TimeBucketKey

        done = []
        for key in self.catalog.list_buckets():
            if not fnmatch.fnmatchcase(key, self.pattern):
                continue
            path = TimeBucketKey(key).path(self.catalog.root)
            if len(txn.data_files(path)) > self.max_files:
                self.catalog.compact(key)
                done.append(key)
        self.compacted.extend(done)
        return done

    def run(self) -> None:
        while True:
            self.sweep()
            if self._stop.wait(self.interval_s):
                return

    def stop(self) -> None:
        self._stop.set()


class StreamingQueryWorker:
    """Adapts this repo's streaming jobs (feeder ingest, ondiskagg
    rollup — anything whose ``start`` returns a pyspark
    StreamingQuery) to the BgWorker interface."""

    def __init__(self, start: Callable[[], Any]):
        self._start = start
        self._query = None

    def run(self) -> None:
        self._query = self._start()
        self._query.awaitTermination()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
