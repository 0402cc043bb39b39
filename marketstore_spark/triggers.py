"""Write-path trigger framework (reference: plugins/trigger/trigger.go).

The reference fires registered trigger plugins after each bucket write:
a trigger declares an ``on`` pattern (a TimeBucketKey glob like
``*/1Min/OHLCV``), and ``Fire(keyPath, records)`` runs once the new
content is durably on disk.  contrib/ondiskagg/aggtrigger is the
canonical trigger: it re-aggregates the written epoch range into
coarser-timeframe buckets.

Spark design: triggers are plain Python objects on the driver — the
*work* they kick off is a distributed DataFrame job, so the framework
itself needs no cluster machinery.  ``Catalog.write`` fires matching
triggers after the parquet commit (same durability guarantee as the
reference: parquet file commits are atomic, so a trigger can re-read
the bucket).  The ondiskagg trigger recomputes ONLY the touched coarse
buckets — at 100 TB an append of one day re-aggregates one day, not
the bucket's history — and swaps them into each destination in one
replace commit.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstore_spark.catalog import TimeBucketKey
from marketstore_spark.operators.candler import _bucket, candle_candles, tick_candles


class Trigger(Protocol):
    def fire(self, key: str, written: DataFrame) -> None: ...


def _glob_to_re(pattern: str) -> re.Pattern:
    """plugins/trigger/trigger.go Matcher: '*' wildcards, anchored."""
    return re.compile("^" + ".*".join(re.escape(p) for p in pattern.split("*")) + "$")


@dataclass
class Matcher:
    on: str
    trigger: Trigger

    def matches(self, key: str) -> bool:
        return _glob_to_re(self.on).match(key) is not None


@dataclass
class TriggerRegistry:
    matchers: list[Matcher] = field(default_factory=list)

    def register(self, on: str, trigger: Trigger) -> None:
        self.matchers.append(Matcher(on, trigger))

    def fire(self, key: str, written: DataFrame) -> None:
        for m in self.matchers:
            if m.matches(key):
                m.trigger.fire(key, written)


class OnDiskAggTrigger:
    """contrib/ondiskagg/aggtrigger re-expressed: on write to a fine
    bucket, re-aggregate the affected epoch window into each
    destination timeframe's bucket.

    Incremental semantics match the reference (aggtrigger.go recomputes
    from the written indexes): the touched window is
    [floor(min_ts, dest_tf), floor(max_ts, dest_tf) + dest_tf) in the
    candler's own bucketing (``_bucket``), found for every destination
    by one aggregate over the written rows.  It is recomputed from the
    source bucket and replaces the destination's rows in that window in
    ONE commit per destination (``Catalog._replace_where``, Delta's
    ``replaceWhere``): a reader never sees the window empty, a crash
    leaves the previous rows, and replaying a write (WAL-recovery
    analogue, or a Structured-Streaming retry) converges to the same
    state.  The source's ts filter skips no file: ts is written as
    INT96, whose footers carry no min/max and which Spark's parquet
    pushdown ignores, so the whole source is read.
    """

    def __init__(self, catalog, destinations: list[str], ts_col: str = "ts"):
        self.catalog = catalog
        self.destinations = destinations
        self.ts_col = ts_col

    def fire(self, key: str, written: DataFrame) -> None:
        tbk = TimeBucketKey(key)
        # one select per destination: Spark allows one window() per projection
        buckets = written.select(self.ts_col)
        for i, dest_tf in enumerate(self.destinations):
            buckets = buckets.selectExpr("*", f"{_bucket(self.ts_col, dest_tf)} AS w{i}")
        bounds = buckets.agg(
            *[
                agg(f"w{i}.{edge}")
                for i in range(len(self.destinations))
                for agg, edge in ((F.min, "start"), (F.max, "end"))
            ]
        ).first()
        if bounds[0] is None:
            return
        # one snapshot of the source feeds every destination
        source = self.catalog.read(key)
        cols = set(source.columns)
        for i, dest_tf in enumerate(self.destinations):
            lo_v, hi_v = bounds[2 * i], bounds[2 * i + 1]

            def in_window(c):
                return (F.col(c) >= F.lit(lo_v)) & (F.col(c) < F.lit(hi_v))

            src = source.filter(in_window(self.ts_col))
            if {"open", "high", "low", "close"} <= cols:
                out = candle_candles(
                    src, dest_tf, key_cols=(), ts_col=self.ts_col,
                    sum_cols=[c for c in ("volume",) if c in cols],
                )
            else:
                out = tick_candles(
                    src, dest_tf, key_cols=(), ts_col=self.ts_col,
                    price_col="value" if "value" in cols else "close",
                    tiebreak=[c for c in ("event_id",) if c in cols],
                )
            self.catalog._replace_where(  # noqa: SLF001
                f"{tbk.symbol}/{dest_tf}/{tbk.attribute_group}", in_window("epoch"), out
            )


def new_trigger(config: dict, catalog) -> OnDiskAggTrigger:
    """Config-file trigger factory (the plugin-loader convention used
    by ``serve --config``; see marketstore_spark.config): a
    ``triggers:`` entry with ``module: marketstore_spark.triggers``
    builds the ondiskagg rollup trigger from ``config:
    {destinations: [...], ts_col: ...}`` — the analogue of loading
    contrib/ondiskagg via mkts.yml."""
    destinations = list(config.get("destinations") or [])
    if not destinations:
        raise ValueError("ondiskagg trigger config needs destinations: [...]")
    return OnDiskAggTrigger(
        catalog, destinations, ts_col=str(config.get("ts_col", "ts"))
    )
