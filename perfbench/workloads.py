"""The benchmark workloads: ``serve`` and ``analytics``.

Each is one closed loop with one client.  A workload builds its inputs
from the seed in ``setup`` (run several times, each in a fresh
directory; the last one is kept for the timed window), yields its ops
in fixed rounds from ``rounds``, runs one op in ``run`` and, after the
timed window, checks every answer it got in ``check``.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import datagen
from datagen import BASE_NS, DAY_NS, HOUR_NS, MIN_NS


@dataclass
class Op:
    kind: str
    params: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _candles(frame: pd.DataFrame, ts: str, width_ns: int, price=None) -> pd.DataFrame:
    """OHLC per ``width_ns`` bucket of a frame sorted in time order:
    from one price column (ticks) or from open/high/low/close (bars)."""
    g = frame.groupby(frame[ts] // width_ns * width_ns, sort=True)
    if price is not None:
        o = h = l = c = price
    else:
        o, h, l, c = "open", "high", "low", "close"
    return pd.DataFrame(
        {"open": g[o].first(), "high": g[h].max(), "low": g[l].min(), "close": g[c].last()}
    )


def _candle_errors(what: str, got: dict, expect: pd.DataFrame) -> list[str]:
    """Compare a wire ColumnSeries of candles with the expected frame:
    row count, epoch sum (exact) and OHLC sum (float checksum)."""
    n = len(got.get("epoch", []))
    if n != len(expect):
        return [f"{what}: {n} candles, expected {len(expect)}"]
    if sum(got["epoch"]) != sum(map(int, expect.index)):  # int64 would wrap
        return [f"{what}: candle epochs differ"]
    g = sum(sum(got[c]) for c in ("open", "high", "low", "close"))
    e = float(expect[["open", "high", "low", "close"]].to_numpy().sum())
    return [] if _close(g, e) else [f"{what}: OHLC checksum {g} != {e}"]


def _normalized(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with canonical dtypes — the
    oracle-parity comparison of the test suite."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


class Workload:
    name = ""
    #: set-up repetitions; setup_s is their median
    reps = 3

    def __init__(self, spark, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        #: set by the runner: trace the writes of this set-up repetition
        self.trace_load = False
        #: set-ups done so far
        self.loads = 0
        self.setup_write_ms: list[float] = []

    def setup(self, rep_dir: str) -> None:
        raise NotImplementedError

    def discard(self) -> None:
        """Release a set-up repetition that will not be timed."""

    def rounds(self):
        raise NotImplementedError

    def run(self, op: Op):
        raise NotImplementedError

    def check(self, records: list[dict]) -> list[str]:
        raise NotImplementedError

    def metrics(self, records: list[dict], window_s: float) -> dict[str, float]:
        """query_p50_ms, write_p50_ms, rows_per_s and stored_bytes_per_row."""
        raise NotImplementedError

    def files_per_bucket(self) -> float:
        return 0.0


# -- serve -------------------------------------------------------------

SERVE_SYMBOLS = ("AAPL",)
SERVE_DAYS = 2
SERVE_TICKS_PER_DAY = 8_000
SERVE_TAIL = 200
#: the ondiskagg rollup the set-up's writes maintain
SERVE_ROLLUP = "1Min"
#: one round of the read mix
SERVE_MIX = ("range",) * 3 + ("tail",) * 2 + ("tickcandler", "candlecandler", "sql", "info")
#: bytes a tick takes on the wire: int64 ts, event_id, size and a float64 value
WIRE_BYTES_PER_TICK = 4 * 8


def _iso(ns: int) -> str:
    return pd.Timestamp(ns, unit="ns").strftime("%Y-%m-%d %H:%M:%S")


class Serve(Workload):
    """Read-only RPC traffic (msgpack) over tick buckets and their 1Min
    rollups: 1-hour ranges, last-N tails, tickcandler over a day,
    candlecandler 1Min→1H, a MarketSQL tickcandler and GetInfo.

    Set-up loads the ticks the way a feed does: one RPC ``Write`` per
    symbol and day, with real nanosecond stamps, into buckets whose
    ondiskagg trigger maintains the 1Min rollup the candlecandler reads.
    """

    name = "serve"

    def setup(self, rep_dir: str) -> None:
        from marketstore_spark.catalog import Catalog
        from marketstore_spark.client import HttpClient
        from marketstore_spark.server import serve_background
        from marketstore_spark.triggers import OnDiskAggTrigger, TriggerRegistry

        self.root = os.path.join(rep_dir, "catalog")
        self.catalog = Catalog(self.spark, self.root)
        reg = TriggerRegistry()
        reg.register("*/1Sec/TICK", OnDiskAggTrigger(self.catalog, [SERVE_ROLLUP]))
        self.catalog.triggers = reg
        self.server, self._thread = serve_background(self.catalog)
        host, port = self.server.server_address[:2]
        self.client = HttpClient(f"http://{host}:{port}", codec="msgpack")

        rng = np.random.default_rng([self.seed, 0])
        self.ticks, self.bars = {}, {}
        for i, sym in enumerate(SERVE_SYMBOLS):
            days = []
            for d in range(SERVE_DAYS):
                batch = datagen.ticks(
                    rng, SERVE_TICKS_PER_DAY, BASE_NS + d * DAY_NS, DAY_NS,
                    first_event_id=i * 10**7 + d * SERVE_TICKS_PER_DAY,
                    price0=100.0 + 50 * i, sub_us=True,
                )
                ms = self._load(f"{sym}/1Sec/TICK", batch, op_id=f"load-{sym}-{d}")
                if d:  # appends to a live bucket; the first write creates it
                    self.setup_write_ms.append(ms)
                days.append(batch)
            t = pd.concat(days, ignore_index=True)
            t["ts"] = t["ts"] // 1000 * 1000  # buckets store microseconds
            self.ticks[sym] = t
            self.bars[sym] = (
                _candles(t, "ts", MIN_NS, "value").rename_axis("epoch").reset_index()
            )
        self.stored_rows = sum(len(t) for t in self.ticks.values())
        # warm-up: one round of the mix
        for op in next(self._make_rounds(np.random.default_rng([self.seed, 2]))):
            self.run(op)

    def _load(self, key: str, batch: pd.DataFrame, op_id: str) -> float:
        columns = {c: batch[c].tolist() for c in batch.columns}
        traced = self.tracer is not None and self.trace_load
        with self.tracer.op(op_id) if traced else nullcontext():
            if traced:
                self.tracer.count("txn.user_bytes", len(batch) * WIRE_BYTES_PER_TICK)
            t0 = time.perf_counter()
            self.client.write(columns, key, ts_columns=["ts"])
            return (time.perf_counter() - t0) * 1e3

    def discard(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()
            self._thread.join(timeout=30)
            self.server = None

    def files_per_bucket(self) -> float:
        from marketstore_spark import txn
        from marketstore_spark.catalog import TimeBucketKey

        keys = self.catalog.list_buckets()
        counts = [len(txn.data_files(TimeBucketKey(k).path(self.root))) for k in keys]
        return sum(counts) / len(counts) if counts else 0.0

    def rounds(self):
        return self._make_rounds(np.random.default_rng([self.seed, 1]))

    @staticmethod
    def _make_rounds(rng):
        while True:
            ops = []
            for kind in rng.permutation(SERVE_MIX):
                sym = SERVE_SYMBOLS[int(rng.integers(0, len(SERVE_SYMBOLS)))]
                ops.append(
                    Op(
                        str(kind),
                        {
                            "sym": sym,
                            "hour": int(rng.integers(0, 24 * SERVE_DAYS)),
                            "day": int(rng.integers(0, SERVE_DAYS)),
                        },
                    )
                )
            yield ops

    def run(self, op: Op):
        p, c = op.params, self.client
        tick = f"{p['sym']}/1Sec/TICK"
        day0 = BASE_NS + p["day"] * DAY_NS
        if op.kind == "range":
            start = BASE_NS + p["hour"] * HOUR_NS
            return c.query(tick, start, start + HOUR_NS - 1)[tick]
        if op.kind == "tail":
            return c.query(tick, limit_record_count=SERVE_TAIL)[tick]
        if op.kind == "tickcandler":
            return c.query(
                tick, day0, day0 + DAY_NS - 1, functions=["tickcandler('5Min',value)"]
            )[tick]
        if op.kind == "candlecandler":
            bars = f"{p['sym']}/{SERVE_ROLLUP}/TICK"
            return c.query(bars, functions=["candlecandler('1H',open,high,low,close)"])[bars]
        if op.kind == "sql":
            stmt = (
                f"select tickcandler('1H', value) from `{tick}` "
                f"where ts >= '{_iso(day0)}' and ts < '{_iso(day0 + DAY_NS)}'"
            )
            return c.sql(stmt)["responses"][0]["result"]
        if op.kind == "info":
            return c.get_info(tick)
        raise ValueError(op.kind)

    @staticmethod
    def rows_of(out) -> int:
        if "rows" in out and "key" in out:  # GetInfo
            return 1
        return len(next(iter(out.values()))) if out else 0

    def check(self, records: list[dict]) -> list[str]:
        from marketstore_spark.operators.candler import tick_candles

        errors = []
        for rec in records:
            if rec["ok"]:
                errors += self._check_one(rec["op"], rec["out"])
        cols = ["epoch", "open", "high", "low", "close"]
        for sym in SERVE_SYMBOLS:
            expect = tick_candles(
                self.catalog.read(f"{sym}/1Sec/TICK"), SERVE_ROLLUP, key_cols=(),
                ts_col="ts", price_col="value", tiebreak=["event_id"],
            )
            got = self.catalog.read(f"{sym}/{SERVE_ROLLUP}/TICK").select(*cols).toPandas()
            if not _normalized(got).equals(_normalized(expect.select(*cols).toPandas())):
                errors.append(f"{sym}/{SERVE_ROLLUP}/TICK differs from tick_candles of its source")
        rows = {
            r["key"].split("/")[0]: r["rows"]
            for r in self.catalog.integrity_check("*/1Sec/TICK")
        }
        acked = {sym: len(t) for sym, t in self.ticks.items()}
        if rows != acked:
            errors.append(f"integrity_check rows {rows} != acknowledged {acked}")
        return errors

    def _check_one(self, op: Op, got) -> list[str]:
        p = op.params
        t = self.ticks[p["sym"]]
        day0 = BASE_NS + p["day"] * DAY_NS
        day = t[(t.ts >= day0) & (t.ts < day0 + DAY_NS)]
        what = f"{op.kind}{p}"
        if op.kind == "range":
            start = BASE_NS + p["hour"] * HOUR_NS
            e = t[(t.ts >= start) & (t.ts < start + HOUR_NS)]
            if len(got.get("event_id", [])) != len(e):
                return [f"{what}: {len(got.get('event_id', []))} rows, expected {len(e)}"]
            if sum(got["event_id"]) != int(e.event_id.sum()) or not _close(
                sum(got["value"]), float(e.value.sum())
            ):
                return [f"{what}: checksum differs"]
            return []
        if op.kind == "tail":
            e = t.event_id.to_numpy()[-SERVE_TAIL:]
            return [] if sorted(got.get("event_id", [])) == sorted(e.tolist()) else [
                f"{what}: tail rows differ"
            ]
        if op.kind == "tickcandler":
            return _candle_errors(what, got, _candles(day, "ts", 5 * MIN_NS, "value"))
        if op.kind == "candlecandler":
            return _candle_errors(what, got, _candles(self.bars[p["sym"]], "epoch", HOUR_NS))
        if op.kind == "sql":
            return _candle_errors(what, got, _candles(day, "ts", HOUR_NS, "value"))
        if op.kind == "info":
            lo, hi = (pd.Timestamp(got[k]).value for k in ("min_ts", "max_ts"))
            if (got["rows"], lo, hi) != (len(t), int(t.ts.min()), int(t.ts.max())):
                return [f"{what}: GetInfo {got['rows']} rows [{lo}, {hi}] differs"]
            return []
        return [f"{what}: unknown op"]

    def metrics(self, records, window_s):
        ok = [r for r in records if r["ok"]]
        return {
            "query_p50_ms": _median([r["ms"] for r in ok if r["op"].kind != "info"]),
            "write_p50_ms": _median(self.setup_write_ms),
            "rows_per_s": sum(self.rows_of(r["out"]) for r in ok) / window_s,
            "stored_bytes_per_row": datagen.tree_bytes(self.root) / self.stored_rows,
        }


# -- analytics ---------------------------------------------------------

#: the timed keys and the tables each one scans.  dedup_minhash_lsh is
#: left out: its pair index is cached per (session, corpus), so a timed
#: op would re-force a cached plan instead of building one
ANALYTICS_KEYS = {
    "dedup_ngram_jaccard": ("documents",),
}
#: the corpus is loaded in this many appends, one Parquet file each, so
#: write_p50_ms is a median of several writes per set-up
ANALYTICS_LOAD_BATCHES = 6
#: warm-up rounds per set-up repetition.  The JVM's JIT keeps speeding
#: the op up for its first few dozen runs; the warm-up puts every timed
#: window past the steep part of that curve
ANALYTICS_WARMUP_ROUNDS = 3


class Analytics(Workload):
    """A registered batch query over a seeded corpus: one op builds the
    key's plan, forces it through the noop sink and clears the cache."""

    name = "analytics"

    def setup(self, rep_dir: str) -> None:
        self.dir = os.path.join(rep_dir, "tables")
        docs = datagen.analytics_documents(np.random.default_rng([self.seed, 0]))
        self.rows = {"documents": len(docs)}
        path = os.path.join(self.dir, "documents.parquet")
        # the first set-up runs on a cold JVM; write_p50_ms is taken over
        # the appends of the later ones
        warm = self.loads > 0
        self.loads += 1
        for part in np.array_split(np.arange(len(docs)), ANALYTICS_LOAD_BATCHES):
            t0 = time.perf_counter()
            self.spark.createDataFrame(docs.iloc[part]).coalesce(1).write.mode(
                "append"
            ).parquet(path)
            if warm:
                self.setup_write_ms.append((time.perf_counter() - t0) * 1e3)
        warmup = self._make_rounds(np.random.default_rng([self.seed, 2]))
        for _ in range(ANALYTICS_WARMUP_ROUNDS):
            for op in next(warmup):
                self.run(op)

    def rounds(self):
        return self._make_rounds(np.random.default_rng([self.seed, 1]))

    @staticmethod
    def _make_rounds(rng):
        keys = list(ANALYTICS_KEYS)
        while True:
            yield [Op(keys[i]) for i in rng.permutation(len(keys))]

    def run(self, op: Op):
        from marketstore_spark.queries import SPARK_QUERIES

        t0 = time.perf_counter()
        with self._span("analytics.build"):
            df = SPARK_QUERIES[op.kind](self.spark, self.dir)
        t1 = time.perf_counter()
        with self._span("analytics.exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.spark.catalog.clearCache()
        return {"build_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3}

    def _span(self, name):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def check(self, records: list[dict]) -> list[str]:
        """Each key's full answer against its DuckDB oracle, once."""
        import duckdb

        from marketstore_spark.queries import ORACLE_SQL, SPARK_QUERIES

        con = duckdb.connect()
        try:
            for name in self.rows:
                path = os.path.join(self.dir, f"{name}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            errors = []
            for key in ANALYTICS_KEYS:
                got = _normalized(SPARK_QUERIES[key](self.spark, self.dir).toPandas())
                want = _normalized(con.execute(ORACLE_SQL[key]).df())
                if len(got) == 0:
                    errors.append(f"{key}: empty answer")
                elif list(got.columns) != list(want.columns) or len(got) != len(want):
                    errors.append(f"{key}: shape {got.shape} != oracle {want.shape}")
                elif not all(got[c].equals(want[c]) for c in got.columns):
                    errors.append(f"{key}: values differ from the oracle")
            self.spark.catalog.clearCache()
            return errors
        finally:
            con.close()

    def metrics(self, records, window_s):
        ok = [r for r in records if r["ok"]]
        scanned = sum(self.rows[t] for r in ok for t in ANALYTICS_KEYS[r["op"].kind])
        size = datagen.tree_bytes(self.dir)
        return {
            "query_p50_ms": _median([r["out"]["exec_ms"] for r in ok]),
            "write_p50_ms": _median(self.setup_write_ms),
            "rows_per_s": scanned / window_s,
            "stored_bytes_per_row": size / sum(self.rows.values()),
        }


WORKLOADS = {w.name: w for w in (Serve, Analytics)}
