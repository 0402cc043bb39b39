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
    reg.register("*/1Min/TICK", OnDiskAggTrigger(cat, destinations=["1W", "1Mo"]))
    cat.triggers = reg

    first = ev.filter(F.col("ts") < "2024-01-10")
    rest = ev.filter(F.col("ts") >= "2024-01-08")  # overlaps mid-week
    cat.write("SYM1/1Min/TICK", first)
    cat.write("SYM1/1Min/TICK", rest)

    for tf in ("1W", "1Mo"):
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
