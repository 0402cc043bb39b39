"""Trigger framework + integrity check (reference: plugins/trigger,
contrib/ondiskagg/aggtrigger.go, cmd/tool/integrity)."""

import os

import pytest
from pyspark.sql import functions as F

from marketstore_spark.catalog import Catalog, load_table
from marketstore_spark.operators.candler import tick_candles
from marketstore_spark.triggers import Matcher, OnDiskAggTrigger, TriggerRegistry


def test_matcher_glob():
    class Noop:
        def fire(self, key, written):
            pass

    assert Matcher("*/1Min/OHLCV", Noop()).matches("TSLA/1Min/OHLCV")
    assert not Matcher("*/1Min/OHLCV", Noop()).matches("TSLA/5Min/OHLCV")
    assert Matcher("TSLA/*", Noop()).matches("TSLA/1D/TICK")


def test_ondiskagg_trigger_incremental(spark, sf_dir, tmp_path):
    """Writes to the fine bucket must materialize coarse candles, and a
    second (overlapping) write must converge to the same state a full
    recompute would give — the aggtrigger idempotency contract."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    reg = TriggerRegistry()
    reg.register("*/1Min/TICK", OnDiskAggTrigger(cat, destinations=["1H"]))
    cat.triggers = reg

    day1 = ev.filter(F.col("ts") < "2024-01-05")
    rest = ev.filter(F.col("ts") >= "2024-01-04")  # overlaps day1's tail
    cat.write("SYM1/1Min/TICK", day1)
    assert cat.read("SYM1/1H/TICK").count() > 0
    cat.write("SYM1/1Min/TICK", rest)

    got = cat.read("SYM1/1H/TICK")
    # overlap was double-written to the fine bucket, so expect candles
    # over day1 ∪ rest with the overlap duplicated — exactly what a
    # full recompute of the (duplicated) fine bucket yields
    expect = tick_candles(
        cat.read("SYM1/1Min/TICK"), "1H", key_cols=(), ts_col="ts"
    )
    g = {r["epoch"]: (r["open"], r["high"], r["low"], r["close"]) for r in got.collect()}
    e = {r["epoch"]: (r["open"], r["high"], r["low"], r["close"]) for r in expect.collect()}
    assert g == e


def test_trigger_only_fires_on_match(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(50)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    reg = TriggerRegistry()
    reg.register("*/1Min/TICK", OnDiskAggTrigger(cat, destinations=["1H"]))
    cat.triggers = reg
    cat.write("SYM2/5Min/TICK", ev)  # no match → no 1H bucket
    assert "SYM2/1H/TICK" not in cat.list_buckets()


def test_integrity_check_layout_invariant(spark, sf_dir, tmp_path):
    """Checksums must agree across different file layouts of the same
    rows (replica comparison) and disagree after a row-level change."""
    ev = load_table(spark, sf_dir, "events").limit(500)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    cat.write("A/1Min/TICK", ev.repartition(8))
    cat.write("B/1Min/TICK", ev.coalesce(1))
    cat.write("C/1Min/TICK", ev.filter(F.col("event_id") != ev.first()["event_id"]))

    rep = {r["key"]: r for r in cat.integrity_check("*/1Min/TICK")}
    a, b, c = rep["A/1Min/TICK"], rep["B/1Min/TICK"], rep["C/1Min/TICK"]
    assert a["rows"] == b["rows"] == 500
    assert a["checksum"] == b["checksum"]
    assert (c["rows"], c["checksum"]) != (a["rows"], a["checksum"])


def test_ondiskagg_weekly_and_monthly_alignment(spark, sf_dir, tmp_path):
    """1W destinations must produce Monday-aligned buckets identical to
    the batch candler, and calendar destinations (1Mo) must work — the
    round-1 bug derived the touched window with plain F.window, whose
    Thursday-aligned weeks straddled real bucket boundaries (stale or
    partial weekly candles) and whose duration lookup rejected 1Mo."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    reg = TriggerRegistry()
    reg.register("*/1Min/TICK", OnDiskAggTrigger(cat, destinations=["1W", "1Mo", "1Y"]))
    cat.triggers = reg

    first = ev.filter(F.col("ts") < "2024-01-10")
    rest = ev.filter(F.col("ts") >= "2024-01-08")  # overlaps mid-week
    cat.write("SYM1/1Min/TICK", first)
    cat.write("SYM1/1Min/TICK", rest)

    for tf in ("1W", "1Mo", "1Y"):
        got = {
            r["epoch"]: (r["open"], r["high"], r["low"], r["close"])
            for r in cat.read(f"SYM1/{tf}/TICK").collect()
        }
        expect = {
            r["epoch"]: (r["open"], r["high"], r["low"], r["close"])
            for r in tick_candles(
                cat.read("SYM1/1Min/TICK"), tf, key_cols=(), ts_col="ts"
            ).collect()
        }
        assert got == expect, tf
    # weekly epochs are Mondays
    import datetime

    for epoch in {r["epoch"] for r in cat.read("SYM1/1W/TICK").collect()}:
        assert epoch.weekday() == 0, epoch


def _rollup_setup(spark, sf_dir, tmp_path, destinations):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    reg = TriggerRegistry()
    reg.register("*/1Min/TICK", OnDiskAggTrigger(cat, destinations=destinations))
    cat.triggers = reg
    return ev, cat


def _ohlc(df):
    return {r["epoch"]: (r["open"], r["high"], r["low"], r["close"]) for r in df.collect()}


def test_rollup_advances_one_version_per_write(spark, sf_dir, tmp_path):
    """The upsert of the touched window is ONE replace commit per
    destination: each source write advances every rollup by exactly
    one manifest version (no delete-then-append pair)."""
    from marketstore_spark import txn
    from marketstore_spark.catalog import TimeBucketKey

    ev, cat = _rollup_setup(spark, sf_dir, tmp_path, ["1H", "1D"])
    paths = {tf: TimeBucketKey(f"SYM1/{tf}/TICK").path(cat.root) for tf in ("1H", "1D")}
    cat.write("SYM1/1Min/TICK", ev.filter(F.col("ts") < "2024-01-05"))
    assert {tf: txn.current_version(p) for tf, p in paths.items()} == {"1H": 0, "1D": 0}
    cat.write("SYM1/1Min/TICK", ev.filter(F.col("ts") >= "2024-01-04"))
    assert {tf: txn.current_version(p) for tf, p in paths.items()} == {"1H": 1, "1D": 1}
    for tf in ("1H", "1D"):
        assert _ohlc(cat.read(f"SYM1/{tf}/TICK")) == _ohlc(
            tick_candles(cat.read("SYM1/1Min/TICK"), tf, key_cols=(), ts_col="ts")
        )


def test_failed_rollup_staging_keeps_previous_window_rows(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failure while the rollup stages its recomputed window (here:
    the recomputed rows raise when the staging job evaluates them)
    must leave the destination's previous rows for that window
    readable — there is no commit between dropping them and adding the
    new ones."""
    from marketstore_spark import triggers

    ev, cat = _rollup_setup(spark, sf_dir, tmp_path, ["1H"])
    cat.write("SYM1/1Min/TICK", ev.filter(F.col("ts") < "2024-01-05"))
    before = _ohlc(cat.read("SYM1/1H/TICK"))
    assert before

    real = triggers.tick_candles

    def failing(*args, **kwargs):
        out = real(*args, **kwargs)
        return out.withColumn("close", F.raise_error(F.lit("injected")).cast("double"))

    monkeypatch.setattr(triggers, "tick_candles", failing)
    with pytest.raises(Exception, match="injected"):
        cat.write("SYM1/1Min/TICK", ev.filter(F.col("ts") >= "2024-01-04"))
    assert _ohlc(cat.read("SYM1/1H/TICK")) == before


def test_rollup_commit_fires_destination_triggers(spark, sf_dir, tmp_path):
    """A rollup's commit fires the triggers registered on its own key,
    as Catalog.write does, so a 1Min → 5Min → 1H cascade stays equal
    to candles computed straight from the ticks."""
    ev, cat = _rollup_setup(spark, sf_dir, tmp_path, ["5Min"])
    cat.triggers.register(
        "*/5Min/TICK", OnDiskAggTrigger(cat, destinations=["1H"], ts_col="epoch")
    )
    cat.write("SYM1/1Min/TICK", ev.filter(F.col("ts") < "2024-01-05"))
    cat.write("SYM1/1Min/TICK", ev.filter(F.col("ts") >= "2024-01-04"))
    ticks = cat.read("SYM1/1Min/TICK")
    for tf in ("5Min", "1H"):
        assert _ohlc(cat.read(f"SYM1/{tf}/TICK")) == _ohlc(
            tick_candles(ticks, tf, key_cols=(), ts_col="ts")
        ), tf


def test_bucket_ends_for_every_timeframe(spark):
    """``_bucket``'s SQL text gives every timeframe a ``[start, end)`` struct: a
    pre-1970 stamp and a leap day land in the right fixed, Monday
    weekly, calendar month and calendar year buckets."""
    import datetime as dt

    from pyspark.sql import Row

    from marketstore_spark.operators.candler import _bucket

    cases = {
        dt.datetime(1969, 12, 31, 23, 59, 30): {
            "1Min": (dt.datetime(1969, 12, 31, 23, 59), dt.datetime(1970, 1, 1)),
            "1D": (dt.datetime(1969, 12, 31), dt.datetime(1970, 1, 1)),
            "1W": (dt.datetime(1969, 12, 29), dt.datetime(1970, 1, 5)),
            "1Mo": (dt.datetime(1969, 12, 1), dt.datetime(1970, 1, 1)),
            "1Y": (dt.datetime(1969, 1, 1), dt.datetime(1970, 1, 1)),
        },
        dt.datetime(2024, 2, 29, 12): {
            "1Min": (dt.datetime(2024, 2, 29, 12), dt.datetime(2024, 2, 29, 12, 1)),
            "1D": (dt.datetime(2024, 2, 29), dt.datetime(2024, 3, 1)),
            "1W": (dt.datetime(2024, 2, 26), dt.datetime(2024, 3, 4)),
            "1Mo": (dt.datetime(2024, 2, 1), dt.datetime(2024, 3, 1)),
            "1Y": (dt.datetime(2024, 1, 1), dt.datetime(2025, 1, 1)),
        },
    }
    df = spark.createDataFrame([Row(ts=ts) for ts in cases])
    for tf in ("1Min", "1D", "1W", "1Mo", "1Y"):
        got = {
            r["ts"]: (r["w"]["start"], r["w"]["end"])
            for r in df.selectExpr("ts", f"{_bucket('ts', tf)} AS w").collect()
        }
        assert got == {ts: want[tf] for ts, want in cases.items()}, tf


def test_fire_finds_every_window_in_one_aggregate(
    spark, sf_dir, tmp_path, monkeypatch, job_group
):
    """The touched windows of all destinations come from one aggregate
    over the written rows, so a write that feeds three rollups starts
    no more Spark jobs before the commits than one that feeds one."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    cat.write("SYM1/1Min/TICK", ev)
    committed = []
    monkeypatch.setattr(
        Catalog, "_replace_where", lambda self, key, drop, new=None: committed.append(key)
    )
    counts = {}
    for dests in (["1H"], ["1Min", "1W", "1Mo"]):
        with job_group() as jobs:
            OnDiskAggTrigger(cat, dests).fire("SYM1/1Min/TICK", ev)
            counts[len(dests)] = len(jobs())
    assert committed == ["SYM1/1H/TICK", "SYM1/1Min/TICK", "SYM1/1W/TICK", "SYM1/1Mo/TICK"]
    assert counts[3] == counts[1], counts


def test_fire_reads_its_source_once(spark, sf_dir, tmp_path, monkeypatch):
    """One fire reads the source bucket once for all its destinations,
    so every rollup is recomputed from the same snapshot."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    cat.write("SYM1/1Min/TICK", ev)
    monkeypatch.setattr(Catalog, "_replace_where", lambda self, key, drop, new=None: None)
    reads = []
    real = Catalog.read

    def counting(self, key, *a, **kw):
        reads.append(key)
        return real(self, key, *a, **kw)

    monkeypatch.setattr(Catalog, "read", counting)
    OnDiskAggTrigger(cat, ["5Min", "1H", "1D"]).fire("SYM1/1Min/TICK", ev)
    assert reads.count("SYM1/1Min/TICK") == 1, reads


def test_reader_never_sees_a_touched_rollup_bucket_missing(spark, tmp_path):
    """A thread polls the 1Min rollup while overlapping writes stream
    into the tick bucket: every minute a poll has seen stays visible
    in each later poll, and the visible minutes never have a gap."""
    import datetime as dt
    import threading

    from pyspark.sql import Row

    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    reg = TriggerRegistry()
    reg.register("*/1Sec/TICK", OnDiskAggTrigger(cat, destinations=["1Min"]))
    cat.triggers = reg
    t0 = dt.datetime(2024, 1, 2, 9, 30)

    def write(k):  # minutes [2k, 2k + 4): half of each window was written before
        rows = [
            Row(ts=t0 + dt.timedelta(seconds=s), event_id=k * 1000 + s, value=float(s % 97))
            for s in range(120 * k, 120 * k + 240, 7)
        ]
        cat.write("SYM1/1Sec/TICK", spark.createDataFrame(rows))

    write(0)
    stop, polls, errors = threading.Event(), [], []

    def poll():
        seen = set()
        try:
            while not stop.is_set():
                got = {r["epoch"] for r in cat.read("SYM1/1Min/TICK").select("epoch").collect()}
                assert seen <= got, sorted(seen - got)
                minutes = sorted(int((e - t0).total_seconds()) // 60 for e in got)
                assert minutes == list(range(len(minutes))), minutes
                seen = got
                polls.append(len(got))
        except Exception as exc:  # noqa: BLE001 — re-raised on the test thread
            errors.append(exc)

    reader = threading.Thread(target=poll)
    reader.start()
    try:
        for k in range(1, 7):
            write(k)
    finally:
        stop.set()
        reader.join(timeout=120)
    assert not reader.is_alive()
    assert not errors, errors[0]
    assert len(polls) >= 2
    final = _ohlc(cat.read("SYM1/1Min/TICK"))
    assert len(final) == 16
    assert final == _ohlc(
        tick_candles(cat.read("SYM1/1Sec/TICK"), "1Min", key_cols=(), ts_col="ts")
    )
