"""Streaming coverage (SURVEY §2 #20-22): ondiskagg rollup, ingest
writer, pub/sub routing.  Mirrors the reference's trigger tests
(contrib/ondiskagg/aggtrigger) by checking the streaming rollup equals
the batch candler over the same data.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marketstore_spark import txn
from marketstore_spark.catalog import Catalog, TimeBucketKey, load_table
from marketstore_spark.operators.candler import tick_candles
from marketstore_spark.streaming.ondiskagg import stream_candles
from marketstore_spark.streaming.pubsub import StreamHub
from marketstore_spark.streaming.writer import append_sink, read_stream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="msprk_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events_source(spark, sf_dir, tmpdir):
    """Stage the events table as a streaming file source."""
    ev = load_table(spark, sf_dir, "events")
    src = os.path.join(tmpdir, "incoming")
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return ev, read_stream(spark, src, schema)


def test_stream_rollup_matches_batch(spark, sf_dir, tmpdir):
    """Streaming 5Min candles == batch tick_candles on the same input."""
    ev, stream = _events_source(spark, sf_dir, tmpdir)
    candles = stream_candles(stream, "5Min", watermark="365 days")
    q = (
        candles.writeStream.format("memory")
        .queryName("rollup_5min_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from rollup_5min_test").toPandas()
    want = tick_candles(ev, "5Min", sum_cols=["value"], include_count=True).toPandas()
    got = got.sort_values(["user_id", "epoch"]).reset_index(drop=True)
    want = want.rename(columns={"value_sum": "value_sum"}).sort_values(
        ["user_id", "epoch"]
    ).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ["open", "high", "low", "close", "n"]:
        assert (got[col].values == want[col].values).all(), col


def test_append_writer_roundtrip(spark, sf_dir, tmpdir):
    """Write API: stream → parquet bucket → Catalog.read sees all rows
    exactly once (WAL-equivalent exactly-once commit)."""
    ev, stream = _events_source(spark, sf_dir, tmpdir)
    root = os.path.join(tmpdir, "buckets")
    dest = os.path.join(root, "SYM", "1Min", "TICK")
    q = append_sink(stream, dest, checkpoint_dir=os.path.join(tmpdir, "ckpt"))
    q.awaitTermination(120)

    cat = Catalog(spark, root)
    assert cat.list_symbols() == ["SYM"]
    got = cat.read("SYM/1Min/TICK")
    assert got.count() == ev.count()
    info = cat.get_info("SYM/1Min/TICK")
    assert info["rows"] == ev.count()
    # re-running with the same checkpoint must not duplicate (idempotent)
    schema = spark.read.parquet(os.path.join(tmpdir, "incoming")).schema
    stream2 = read_stream(spark, os.path.join(tmpdir, "incoming"), schema)
    q2 = append_sink(stream2, dest, checkpoint_dir=os.path.join(tmpdir, "ckpt"))
    q2.awaitTermination(120)
    assert cat.read("SYM/1Min/TICK").count() == ev.count()


def _ticks(spark, n, base):
    return spark.range(base, base + n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds("id").alias("ts"),
        F.col("id").cast("double").alias("value"),
    )


def _land(spark, src, n, base):
    _ticks(spark, n, base).coalesce(1).write.mode("append").parquet(src)


def _sink(spark, src, dest, ckpt):
    stream = read_stream(spark, src, _ticks(spark, 0, 0).schema)
    append_sink(stream, dest, checkpoint_dir=ckpt).awaitTermination(120)


def _bucket_files(dest):
    return sorted(
        os.path.relpath(os.path.join(r, f), dest)
        for r, _, fs in os.walk(dest)
        for f in fs
        if txn.MANIFEST_DIR not in r
    )


def test_sink_and_catalog_writes_share_one_bucket(spark, tmpdir):
    """Streamed batches and Catalog writes are commits of one manifest
    log: every row of both feeds is read back, and vacuum keeps every
    file the stream wrote."""
    src, ckpt = os.path.join(tmpdir, "incoming"), os.path.join(tmpdir, "ckpt")
    cat = Catalog(spark, os.path.join(tmpdir, "buckets"))
    key = "MIX/1Min/TICK"
    dest = TimeBucketKey(key).path(cat.root)
    _land(spark, src, 100, 0)
    _sink(spark, src, dest, ckpt)
    cat.write(key, _ticks(spark, 10, 1000))
    _land(spark, src, 100, 2000)
    _sink(spark, src, dest, ckpt)
    assert cat.read(key).count() == 210
    assert cat.vacuum(key, min_age_seconds=0)["removed_files"] == 0
    assert cat.read(key).count() == 210
    m = txn.read_manifest(dest, txn.current_version(dest))
    assert m["streams"] == {os.path.abspath(ckpt): 1}


def test_replayed_sink_batch_publishes_nothing(spark, tmpdir):
    """A crash after the sink's commit but before Spark's own commit
    log entry replays the batch under the same id.  The manifest's
    marker skips it before anything is staged, also after a compact and
    a delete_range, whose replace commits carry the marker forward."""
    src, ckpt = os.path.join(tmpdir, "incoming"), os.path.join(tmpdir, "ckpt")
    cat = Catalog(spark, os.path.join(tmpdir, "buckets"))
    key = "RPL/1Min/TICK"
    dest = TimeBucketKey(key).path(cat.root)
    _land(spark, src, 100, 0)
    _sink(spark, src, dest, ckpt)
    steps = [
        lambda: None,
        lambda: cat.compact(key),
        lambda: cat.delete_range(key, 0, 9, ts_col="event_id"),
    ]
    for step, rows in zip(steps, (100, 100, 90)):
        step()
        version, files = txn.current_version(dest), _bucket_files(dest)
        for name in ("0", ".0.crc"):  # forget that batch 0 committed
            if os.path.exists(os.path.join(ckpt, "commits", name)):
                os.remove(os.path.join(ckpt, "commits", name))
        _sink(spark, src, dest, ckpt)
        assert os.path.exists(os.path.join(ckpt, "commits", "0"))  # replayed
        assert txn.current_version(dest) == version
        assert _bucket_files(dest) == files
        assert cat.read(key).count() == rows
        assert txn.read_manifest(dest, version)["streams"] == {os.path.abspath(ckpt): 0}


def test_pubsub_glob_routing(spark, sf_dir, tmpdir):
    """Stream plugin: subscribers receive only TBK-glob-matching keys."""
    ev, stream = _events_source(spark, sf_dir, tmpdir)
    keyed = stream.withColumn(
        "tbk", F.concat(F.lit("SYM"), F.col("user_id"), F.lit("/1Min/TICK"))
    )
    hub = StreamHub(key_col="tbk", delivery_root=os.path.join(tmpdir, "deliveries"))
    all_sub = hub.subscribe("all", "*/1Min/TICK")
    one_sub = hub.subscribe("one", "SYM1/1Min/*")
    none_sub = hub.subscribe("none", "*/1D/OHLCV")
    q = hub.attach(keyed)
    q.awaitTermination(120)

    total = ev.count()
    n_sym1 = ev.filter(F.col("user_id") == 1).count()
    assert len(all_sub.received) == total
    assert len(one_sub.received) == n_sym1
    assert len(none_sub.received) == 0
    # delivery is an executor-side partitioned write, not a driver
    # collect: per-subscriber partition dirs exist only for matches
    subdirs = {d for d in os.listdir(hub.delivery_root) if d.startswith("__sub=")}
    assert subdirs == {"__sub=all", "__sub=one"}
    # matched rows carry their origin keys
    assert all(r["tbk"].startswith("SYM1/") for r in one_sub.received)


def test_pubsub_delivers_within_one_micro_batch(spark, tmpdir):
    """Latency guard for the executor-side broadcast-pattern rewrite:
    a batch's rows must be fully delivered to every matching subscriber
    when that micro-batch completes — not buffered into a later one.
    Proven by draining batch 1 BEFORE batch 2's data exists, under a
    multi-subscriber overlapping glob set."""
    import json as _json

    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    ckpt = os.path.join(tmpdir, "ckpt")
    hub = StreamHub(key_col="tbk", delivery_root=os.path.join(tmpdir, "deliveries"))
    hub.subscribe("ticks", "*/1Min/TICK")
    hub.subscribe("sym1", "SYM1/*/*")
    hub.subscribe("daily", "*/1D/*")

    def run_once():
        stream = spark.readStream.schema("tbk string, v long").json(src)
        q = (
            stream.writeStream.foreachBatch(hub.push_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(120)

    with open(os.path.join(src, "b1.json"), "w") as fh:
        fh.write(
            "\n".join(
                _json.dumps(r)
                for r in [
                    {"tbk": "SYM1/1Min/TICK", "v": 1},
                    {"tbk": "SYM2/1Min/TICK", "v": 2},
                    {"tbk": "SYM1/1D/OHLCV", "v": 3},
                ]
            )
        )
    run_once()
    # batch 1 fully delivered, to every matching subscriber, before any
    # batch-2 data exists anywhere
    assert {r["v"] for r in hub.delivered("ticks")} == {1, 2}
    assert {r["v"] for r in hub.delivered("sym1")} == {1, 3}
    assert {r["v"] for r in hub.delivered("daily")} == {3}

    with open(os.path.join(src, "b2.json"), "w") as fh:
        fh.write(_json.dumps({"tbk": "SYM1/1Min/TICK", "v": 4}))
    run_once()
    assert {r["v"] for r in hub.delivered("ticks")} == {1, 2, 4}
    # each row rode the micro-batch that read it: batch ids advanced
    by_v = {r["v"]: r["__batch_id"] for r in hub.delivered("ticks")}
    assert by_v[1] == by_v[2] < by_v[4]


def test_catalog_ddl_roundtrip(spark, sf_dir, tmpdir):
    """Create/Write/GetInfo/Destroy (frontend/write.go DDL surface)."""
    ev = load_table(spark, sf_dir, "events")
    cat = Catalog(spark, os.path.join(tmpdir, "root"))
    cat.create("AAPL/1Min/OHLCV", ev)
    assert cat.list_buckets() == ["AAPL/1Min/OHLCV"]
    cat.write("AAPL/1Min/OHLCV", ev.limit(10))
    assert cat.read("AAPL/1Min/OHLCV").count() == 10
    cat.destroy("AAPL/1Min/OHLCV")
    assert cat.list_buckets() == []


def test_stateful_gap_detector_matches_batch(spark, sf_dir, tmpdir):
    """applyInPandasWithState gap watcher == batch uda/gap threshold
    mode when the feed arrives time-ordered (single source file)."""
    from marketstore_spark.operators.uda import gap_threshold
    from marketstore_spark.streaming.gapwatch import stream_gap_detector

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    src = os.path.join(tmpdir, "ordered")
    ev.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema)

    gaps = stream_gap_detector(stream, threshold_seconds=1800.0)
    q = (
        gaps.writeStream.format("memory")
        .queryName("gapwatch_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "select user_id, prev_ts, next_ts, round(gap_seconds, 6) g from gapwatch_test"
    ).toPandas().sort_values(["user_id", "prev_ts"]).reset_index(drop=True)
    want = gap_threshold(ev, 1800.0).select(
        "user_id", "prev_ts", "next_ts", F.round("gap_seconds", 6).alias("g")
    ).toPandas().sort_values(["user_id", "prev_ts"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (got["g"].values == want["g"].values).all()
    assert (got["user_id"].values == want["user_id"].values).all()


def test_watermark_drops_late_data(spark, tmpdir):
    """ondiskagg late-write policy: ticks older than the watermark must
    NOT reopen closed buckets (the reference rewrites buckets on ANY
    out-of-order write; the streaming path bounds that with the
    watermark and this test pins the drop behavior)."""
    import datetime as dt

    from marketstore_spark.streaming.ondiskagg import stream_candles

    src = os.path.join(tmpdir, "wm_src")
    ckpt = os.path.join(tmpdir, "wm_ckpt")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once(sink):
        stream = read_stream(spark, src, spark.read.parquet(src).schema)
        candles = stream_candles(
            stream, "5Min", watermark="30 minutes", tiebreak=("event_id",)
        )

        def collect_batch(bdf, _bid):
            sink.extend(bdf.collect())

        q = (
            candles.writeStream.foreachBatch(collect_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t = dt.datetime(2024, 6, 1)
    # batch 1: ticks at 10:00 and 12:00 → watermark becomes 11:30
    write_batch(
        [(1, t.replace(hour=10), 1, 5.0), (2, t.replace(hour=12), 1, 6.0)], "a"
    )
    sink1 = []
    run_once(sink1)
    assert len(sink1) == 2

    # batch 2: 10:05 is behind the watermark (dropped); 12:05 is live
    write_batch(
        [(3, t.replace(hour=10, minute=5), 1, 7.0),
         (4, t.replace(hour=12, minute=5), 1, 8.0)], "b"
    )
    sink2 = []
    run_once(sink2)
    epochs = {r["epoch"].strftime("%H:%M") for r in sink2}
    assert "12:05" in epochs          # live tick lands in its bucket
    assert "10:05" not in epochs      # late tick was dropped


def test_stream_dedup_drops_redelivery(spark, sf_dir, tmpdir):
    """A doubled source (feeder reconnect replay) must come out exactly
    once per event_id via dropDuplicatesWithinWatermark."""
    from marketstore_spark.streaming.dedup import dedup_stream

    ev = load_table(spark, sf_dir, "events").limit(300)
    src = os.path.join(tmpdir, "dup_incoming")
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # the re-delivery
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema)

    q = (
        dedup_stream(stream, key_cols=("event_id",), horizon="365 days")
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup_stream_test").toPandas()
    assert len(got) == 300
    assert got["event_id"].is_unique


def test_stream_media_dedup_collapses_recrawl(spark, tmpdir):
    """Perceptual dedup at media ingest: a re-crawled pixel-identical
    image (different container bytes — BMP vs PNG of the same pixels)
    collapses to one row by dHash, distinct images and distinct
    corrupt payloads all survive (corrupt rows key on content md5, so
    NULL-key collapse can't eat them)."""
    import datetime

    import numpy as np

    from marketstore_spark.operators.multimodal import encode_bmp, encode_png
    from marketstore_spark.streaming.dedup import dedup_media_stream

    rng = np.random.default_rng(21)
    img_a = rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)
    img_b = rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, bytearray(encode_bmp(img_a))),
        (2, base, bytearray(encode_png(img_a))),   # re-crawl, new container
        (3, base, bytearray(encode_bmp(img_b))),
        (4, base, bytearray(b"corrupt-one")),
        (5, base, bytearray(b"corrupt-two")),      # distinct corrupt bytes
    ]
    df = spark.createDataFrame(rows, "media_id long, ts timestamp, payload binary")
    src = os.path.join(tmpdir, "media_incoming")
    df.write.mode("overwrite").parquet(src)
    stream = read_stream(spark, src, spark.read.parquet(src).schema)

    q = (
        dedup_media_stream(stream, horizon="365 days")
        .writeStream.format("memory")
        .queryName("media_dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select media_id, dhash from media_dedup_stream_test"
    ).toPandas()
    kept = set(got["media_id"])
    assert len(kept) == 4 and kept & {1, 2} != {1, 2}  # one of the twins
    assert {3, 4, 5} <= kept
    assert got["dhash"].notna().all()


def test_stream_static_enrichment_join(spark, sf_dir, tmpdir):
    """Live tick stream enriched with a static symbol-metadata dim — a
    stream-static broadcast join, the standard serving-path enrichment
    (no state store, no watermark needed)."""
    from pyspark.sql import functions as SF

    ev, stream = _events_source(spark, sf_dir, tmpdir)
    dim = spark.createDataFrame(
        [(i, f"SYM{i}", "XNYS") for i in range(64)],
        "user_id long, symbol string, exchange string",
    )
    enriched = stream.join(SF.broadcast(dim), "user_id").select(
        "event_id", "symbol", "exchange", "value"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from enrich_test").toPandas()
    assert len(got) == ev.count()
    assert (got["exchange"] == "XNYS").all()
    assert got["symbol"].str.startswith("SYM").all()


def test_stream_vwap_matches_batch(spark, sf_dir, tmpdir):
    """Streaming per-bucket VWAP == the same aggregate computed batch."""
    from marketstore_spark.streaming.ondiskagg import stream_vwap

    ev, stream = _events_source(spark, sf_dir, tmpdir)
    q = (
        stream_vwap(stream, "1H", watermark="365 days")
        .writeStream.format("memory")
        .queryName("vwap_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from vwap_stream_test").toPandas()
    want = (
        ev.groupBy("user_id", F.window("ts", "1 hour").alias("__w"))
        .agg((F.sum(F.col("value") * F.lit(1.0)) / F.sum(F.lit(1.0))).alias("vwap"))
        .select("user_id", F.col("__w.start").alias("epoch"), "vwap")
        .toPandas()
    )
    got = got.sort_values(["user_id", "epoch"], ignore_index=True)
    want = want.sort_values(["user_id", "epoch"], ignore_index=True)
    assert len(got) == len(want)
    assert (got["vwap"].to_numpy() == want["vwap"].to_numpy()).all()


def test_market_calendar_gated_feeder(spark):
    """contrib/calendar + feeder gating: polls run only in market
    hours (fake clock), and the Column predicate agrees with the
    driver-side predicate row for row."""
    import datetime as dt

    from marketstore_spark.functions.calendar import (
        MarketCalendar,
        NASDAQ_LIKE,
        ScheduledFeeder,
    )

    cal = MarketCalendar.from_config(NASDAQ_LIKE)
    ET = dt.timezone(dt.timedelta(hours=-5))  # January => EST
    assert cal.is_market_open(dt.datetime(2024, 1, 3, 10, 0, tzinfo=ET))
    assert not cal.is_market_open(dt.datetime(2024, 1, 3, 9, 29, tzinfo=ET))
    assert not cal.is_market_open(dt.datetime(2024, 1, 6, 10, 0, tzinfo=ET))   # Saturday
    assert not cal.is_market_open(dt.datetime(2024, 1, 15, 10, 0, tzinfo=ET))  # MLK day
    EST_ = dt.timezone(dt.timedelta(hours=-5))
    assert not cal.is_market_open(dt.datetime(2024, 12, 24, 14, 0, tzinfo=ET))  # early close
    assert cal.is_market_open(dt.datetime(2024, 12, 24, 12, 0, tzinfo=ET))

    # feeder polls only while open
    times = iter(
        [
            dt.datetime(2024, 1, 3, 10, 0, tzinfo=ET),   # open -> poll
            dt.datetime(2024, 1, 3, 20, 0, tzinfo=ET),   # after close -> skip
            dt.datetime(2024, 1, 6, 10, 0, tzinfo=ET),   # Saturday -> skip
            dt.datetime(2024, 1, 4, 15, 59, tzinfo=ET),  # open -> poll
        ]
    )
    fetched = []
    feeder = ScheduledFeeder(cal, poll=lambda: fetched.append(1), clock=lambda: next(times))
    ran = [feeder.tick() for _ in range(4)]
    assert ran == [True, False, False, True]
    assert feeder.polls == 2 and feeder.skips == 2

    # Column predicate matches the driver predicate on a UTC sweep
    sweep = [
        dt.datetime(2024, 1, d, h, 0)  # naive UTC
        for d in (3, 6, 15, 16)
        for h in range(0, 24, 3)
    ]
    df = spark.createDataFrame([(t,) for t in sweep], "ts timestamp")
    got = {
        r["ts"]: r["open"]
        for r in df.withColumn("open", cal.is_open_col("ts")).collect()
    }
    for t in sweep:
        want = cal.is_market_open(t.replace(tzinfo=dt.timezone.utc))
        assert got[t] == want, t


def test_stream_weekly_rollup_monday_aligned(spark, sf_dir, tmpdir):
    """A 1W streaming rollup must produce the SAME Monday-aligned
    buckets as the batch candler (plain F.window weeks start Thursday);
    calendar timeframes are rejected up front."""
    import pytest

    ev, stream = _events_source(spark, sf_dir, tmpdir)
    candles = stream_candles(stream, "1W", watermark="365 days")
    q = (
        candles.writeStream.format("memory")
        .queryName("rollup_1w_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from rollup_1w_test").toPandas()
    assert all(e.weekday() == 0 for e in got["epoch"])
    want = tick_candles(ev, "1W", sum_cols=["value"], include_count=True).toPandas()
    g = got.sort_values(["user_id", "epoch"]).reset_index(drop=True)
    w = want.sort_values(["user_id", "epoch"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["close"].values == w["close"].values).all()

    with pytest.raises(ValueError, match="calendar-variable"):
        stream_candles(stream, "1Mo")


def test_stream_ema_obv_matches_batch_across_microbatches(spark, sf_dir, tmpdir):
    """Stateful live EMA/OBV == the batch operators bitwise, with the
    feed deliberately split into multiple micro-batches (the carried
    state must seamlessly continue the recurrence across the batch
    boundary)."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.ewm import ema
    from marketstore_spark.operators.quant import obv
    from marketstore_spark.streaming.indicators import stream_ema_obv

    ev = (
        typed_attrs(load_table(spark, sf_dir, "events"))
        .filter(F.col("user_id") <= 10)
        .select("user_id", "ts", "event_id", "value", F.col("attrs.k").alias("volume"))
    )
    # two time-ordered files → two micro-batches (maxFilesPerTrigger=1)
    src = os.path.join(tmpdir, "feed")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.filter(F.col("event_id") <= mid).orderBy("ts").coalesce(1).write.parquet(
        os.path.join(src, "b0")
    )
    ev.filter(F.col("event_id") > mid).orderBy("ts").coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    schema = ev.schema
    stream = read_stream(spark, src, schema, max_files_per_trigger=1, recursive=True)

    live = stream_ema_obv(stream, span=20)
    q = (
        live.writeStream.format("memory")
        .queryName("live_indicators")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select event_id, ema, obv from live_indicators")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    # batch truth over the union (same literal recurrences)
    want_ema = ema(ev.select("user_id", "ts", "event_id", "value"), span=20)
    want_ema = want_ema.select("event_id", "ema").toPandas().sort_values(
        "event_id").reset_index(drop=True)
    want_obv = obv(ev).select(F.col("event_id"), "obv").toPandas().sort_values(
        "event_id").reset_index(drop=True)
    assert len(got) == len(want_ema) > 0
    assert (got["ema"].values == want_ema["ema"].values).all()  # bitwise
    assert (got["obv"].values == want_obv["obv"].values).all()


def test_stream_ema_obv_sorts_across_arrow_chunk_boundaries(spark, sf_dir, tmpdir):
    """applyInPandasWithState hands the fold an ITERATOR of Arrow
    chunks; sorting chunks independently would corrupt the recurrence
    whenever out-of-order rows straddle a chunk boundary.  Force 3-row
    chunks, feed one micro-batch whose file is written in REVERSE time
    order, and require bitwise equality with the batch operators."""
    from marketstore_spark.models import typed_attrs
    from marketstore_spark.operators.ewm import ema
    from marketstore_spark.operators.quant import obv
    from marketstore_spark.streaming.indicators import stream_ema_obv

    ev = (
        typed_attrs(load_table(spark, sf_dir, "events"))
        .filter(F.col("user_id") <= 3)
        .select("user_id", "ts", "event_id", "value", F.col("attrs.k").alias("volume"))
    )
    src = os.path.join(tmpdir, "feed")
    # one file, reverse-time order → one micro-batch with guaranteed
    # out-of-order rows across every chunk boundary
    ev.orderBy(F.desc("ts"), F.desc("event_id")).coalesce(1).write.parquet(src)
    schema = ev.schema
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = read_stream(spark, src, schema)
        live = stream_ema_obv(stream, span=20)
        q = (
            live.writeStream.format("memory")
            .queryName("live_chunked")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = (
        spark.sql("select event_id, ema, obv from live_chunked")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    want_ema = ema(ev.select("user_id", "ts", "event_id", "value"), span=20)
    want_ema = want_ema.select("event_id", "ema").toPandas().sort_values(
        "event_id").reset_index(drop=True)
    want_obv = obv(ev).select("event_id", "obv").toPandas().sort_values(
        "event_id").reset_index(drop=True)
    assert len(got) == len(want_ema) > 0
    assert (got["ema"].values == want_ema["ema"].values).all()  # bitwise
    assert (got["obv"].values == want_obv["obv"].values).all()


def test_stream_nbbo_carries_venue_book_across_batches(spark, tmpdir):
    """Live NBBO consolidation: venue A quotes only in batch 0; batch 1
    must still consolidate against A's carried quote (per-venue book in
    the state struct), and the per-batch emission applies the batch
    operator's tie rules."""
    from datetime import datetime

    from marketstore_spark.streaming.indicators import stream_nbbo

    cols = ["user_id", "ts", "event_id", "event_type", "bid_c", "ask_c"]
    b0 = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 9, 30, 0), 1, "A", 10000, 10100),
            (1, datetime(2024, 1, 1, 9, 30, 5), 2, "B", 10010, 10120),
        ],
        cols,
    )
    b1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 31, 0), 3, "B", 9990, 10105)], cols
    )
    src = os.path.join(tmpdir, "quotes")
    b0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    stream = read_stream(
        spark, src, b0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_nbbo(stream)
        .writeStream.format("memory")
        .queryName("live_nbbo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from live_nbbo")
        .toPandas()
        .sort_values("asof_ts")
        .reset_index(drop=True)
    )
    assert len(got) == 2
    first, second = got.iloc[0], got.iloc[1]
    # after batch 0: B holds the best bid, A the best ask
    assert (first["best_bid_c"], first["bid_venue"]) == (10010, "B")
    assert (first["best_ask_c"], first["ask_venue"]) == (10100, "A")
    assert first["n_venues"] == 2
    # after batch 1: B's refresh drops its bid below A's CARRIED quote
    # — A must win both sides even though it never appeared in batch 1
    assert (second["best_bid_c"], second["bid_venue"]) == (10000, "A")
    assert (second["best_ask_c"], second["ask_venue"]) == (10100, "A")
    assert second["spread_c"] == 100
    assert second["n_venues"] == 2


def test_stream_nbbo_tolerates_null_quote_fields(spark, tmpdir):
    """A quote row with a NULL side must be skipped, not crash the
    query: nullable int columns arrive as float64+NaN in the pandas
    chunk, and int(NaN) would kill the stateful stream permanently."""
    from datetime import datetime

    from marketstore_spark.streaming.indicators import stream_nbbo

    cols = "user_id long, ts timestamp, event_id long, event_type string, bid_c long, ask_c long"
    rows = [
        (1, datetime(2024, 1, 1, 9, 30, 0), 1, "A", 10000, 10100),
        (1, datetime(2024, 1, 1, 9, 30, 5), 2, "B", None, 10050),
        (1, datetime(2024, 1, 1, 9, 30, 9), 3, "C", 10020, None),
    ]
    b0 = spark.createDataFrame(rows, cols)
    src = os.path.join(tmpdir, "nullquotes")
    b0.coalesce(1).write.parquet(src)
    stream = read_stream(spark, src, b0.schema)
    q = (
        stream_nbbo(stream)
        .writeStream.format("memory")
        .queryName("live_nbbo_nulls")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from live_nbbo_nulls").collect()
    assert len(got) == 1
    r = got[0]
    # every row with an identity enters the book; null SIDES simply
    # contribute no candidate (the batch null-skipping struct rule):
    # best bid = C's 10020, best ask = B's 10050, three venues booked.
    assert (r["best_bid_c"], r["best_ask_c"], r["n_venues"]) == (10020, 10050, 3)
    assert (r["bid_venue"], r["ask_venue"]) == ("C", "B")


def test_stream_nbbo_all_null_batch_emits_nothing(spark, tmpdir):
    """A micro-batch whose rows ALL lack an identity (null ts/event_id/
    venue) must persist the book and emit NO row: re-emitting the
    previous consolidated tick would carry a stale asof_ts and
    duplicate it in append mode.  The output key column must also
    follow the input schema's type (here int, not the old hardcoded
    long)."""
    from datetime import datetime

    from marketstore_spark.streaming.indicators import stream_nbbo

    cols = "user_id int, ts timestamp, event_id long, event_type string, bid_c long, ask_c long"
    b0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 30, 0), 1, "A", 10000, 10100)], cols
    )
    b1 = spark.createDataFrame([(1, None, None, None, 9990, 10050)], cols)
    src = os.path.join(tmpdir, "nullbatch")
    b0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    stream = read_stream(
        spark, src, b0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_nbbo(stream)
        .writeStream.format("memory")
        .queryName("live_nbbo_nullbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("live_nbbo_nullbatch")
    got = out.collect()
    # exactly ONE consolidated tick — the all-null batch emitted nothing
    assert len(got) == 1
    assert (got[0]["best_bid_c"], got[0]["best_ask_c"]) == (10000, 10100)
    assert out.schema["user_id"].dataType.simpleString() == "int"


def test_stream_nbbo_state_survives_restart(spark, tmpdir):
    """The per-venue book must round-trip through the checkpointed
    state store across a full query STOP/RESTART (not just across
    micro-batches within one run): venue A quotes only before the
    restart, and the post-restart batch must still consolidate
    against A's carried quote."""
    from datetime import datetime

    from marketstore_spark.streaming.indicators import stream_nbbo

    cols = "user_id long, ts timestamp, event_id long, event_type string, bid_c long, ask_c long"
    src = os.path.join(tmpdir, "restartq")
    ckpt = os.path.join(tmpdir, "ckpt")
    b0 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 30, 0), 1, "A", 10000, 10100)], cols
    )
    b0.coalesce(1).write.parquet(os.path.join(src, "b0"))

    out = os.path.join(tmpdir, "out")

    def run_once():
        stream = read_stream(
            spark, src, b0.schema, max_files_per_trigger=1, recursive=True
        )
        q = (
            stream_nbbo(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # second file arrives while the query is STOPPED
    b1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 31, 0), 2, "B", 9990, 10105)], cols
    )
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    run_once()

    got = spark.read.parquet(out).orderBy("asof_ts").collect()
    assert len(got) == 2
    r = got[-1]
    # A's quote was only ever seen BEFORE the restart — it must still
    # win both sides against B's worse refresh
    assert (r["best_bid_c"], r["bid_venue"]) == (10000, "A")
    assert (r["best_ask_c"], r["ask_venue"]) == (10100, "A")
    assert r["n_venues"] == 2


def test_stream_event_bars_matches_batch_across_slicings(spark, tmpdir):
    """Streaming volume bars: a 2-batch replay must emit exactly the
    bars the batch operator closes, integer-for-integer — the running
    activity total and the open partial bar carry across batches; the
    still-open bar is never emitted."""
    from datetime import datetime

    from marketstore_spark.operators.bars import event_bars
    from marketstore_spark.streaming.bars import stream_event_bars

    cols = ["user_id", "ts", "event_id", "value", "volume"]
    rows = [
        # symbol 1: threshold 100 -> bars close as cum crosses 100, 200…
        (1, datetime(2024, 1, 1, 9, 30, 0), 1, 10.00, 60),
        (1, datetime(2024, 1, 1, 9, 31, 0), 2, 11.00, 50),   # bar 0 (cum_before 60)
        # --- batch boundary ---
        (1, datetime(2024, 1, 1, 9, 32, 0), 3, 9.00, 10),    # bar 1 opens (110)
        (1, datetime(2024, 1, 1, 9, 33, 0), 4, 12.00, 300),  # bar 1 (120) then crosses
        (1, datetime(2024, 1, 1, 9, 34, 0), 5, 8.00, 1),     # bar 4 opens (420)
        (2, datetime(2024, 1, 1, 9, 30, 0), 6, 50.00, 120),  # sym2 bar 0
        (2, datetime(2024, 1, 1, 9, 31, 0), 7, 51.00, 5),    # sym2 bar 1 opens
    ]
    b0, b1 = rows[:2], rows[2:]
    src = os.path.join(tmpdir, "ticks")
    df0 = spark.createDataFrame(b0, cols)
    df0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, df0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_event_bars(stream, threshold=100)
        .writeStream.format("memory")
        .queryName("live_bars")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select * from live_bars order by user_id, bar_id"
    ).collect()
    batch = {
        (r["symbol"], r["bar_id"]): r
        for r in event_bars(
            spark.createDataFrame(rows, cols), threshold=100
        ).collect()
    }
    # open partials (sym1 bar 4, sym2 bar 1) must NOT be emitted
    assert [(r["user_id"], r["bar_id"]) for r in got] == [(1, 0), (1, 1), (2, 0)]
    for r in got:
        b = batch[(r["user_id"], r["bar_id"])]
        for c in (
            "open_c", "high_c", "low_c", "close_c", "volume",
            "notional_c", "n_ticks", "t_open", "t_close", "vwap",
        ):
            assert r[c] == b[c], (r["user_id"], r["bar_id"], c, r[c], b[c])


def test_stream_vpin_matches_batch_closed_buckets(spark, tmpdir):
    """Live VPIN: a 2-batch replay must equal the batch operator on
    every CLOSED volume bucket — tick-rule side, running volume, the
    open bucket's flow split, and the trailing (imbalance, total)
    window all carry across the batch boundary."""
    from datetime import datetime

    from marketstore_spark.operators.bars import vpin
    from marketstore_spark.streaming.bars import stream_vpin

    cols = ["user_id", "ts", "event_id", "value", "volume"]
    rows = [
        (1, datetime(2024, 1, 1, 9, 30, 0), 1, 100.0, 5),   # side 0
        (1, datetime(2024, 1, 1, 9, 31, 0), 2, 101.0, 5),   # +1
        (1, datetime(2024, 1, 1, 9, 32, 0), 3, 99.0, 10),   # -1
        # --- batch boundary ---
        (1, datetime(2024, 1, 1, 9, 33, 0), 4, 100.0, 5),   # +1 (carried lag)
        (1, datetime(2024, 1, 1, 9, 34, 0), 5, 101.0, 5),   # +1
        (1, datetime(2024, 1, 1, 9, 35, 0), 6, 102.0, 10),  # +1
        (1, datetime(2024, 1, 1, 9, 36, 0), 7, 101.0, 10),  # -1 (closes b3)
    ]
    b0, b1 = rows[:3], rows[3:]
    src = os.path.join(tmpdir, "vpinticks")
    df0 = spark.createDataFrame(b0, cols)
    df0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, df0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_vpin(stream, bucket_volume=10, n=2)
        .writeStream.format("memory")
        .queryName("live_vpin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["bucket_id"]: r
        for r in spark.sql("select * from live_vpin").collect()
    }
    batch = {
        r["bucket_id"]: r
        for r in vpin(
            spark.createDataFrame(rows, cols), bucket_volume=10, n=2
        ).collect()
    }
    # buckets 0..2 close (cum reaches 50 -> bucket 3 is open when tick 7
    # lands it at cum_before 40 -> b4? compute: vols 5,5,10,5,5,10,10 ->
    # cum_before 0,5,10,20,25,30,40 -> buckets 0,0,1,2,2,3,4: closed 0-3
    assert set(got) == {0, 1, 2, 3}
    for bid, r in got.items():
        b = batch[bid]
        for c in ("buy_vol", "sell_vol", "total_vol", "n_ticks", "imbalance", "vpin"):
            assert r[c] == b[c], (bid, c, r[c], b[c])


def test_stream_range_vol_matches_batch(spark, sf_dir, tmpdir):
    """Streaming 1D range-vol estimators == batch range_vol on the
    same ticks, bitwise (shared estimator chain + identical cent-cast
    candle picks)."""
    from marketstore_spark.operators.quant import range_vol
    from marketstore_spark.streaming.ondiskagg import stream_range_vol

    ev, stream = _events_source(spark, sf_dir, tmpdir)
    live = stream_range_vol(stream, "1 day", watermark="365 days")
    q = (
        live.writeStream.format("memory")
        .queryName("range_vol_live")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("select * from range_vol_live")
        .toPandas()
        .sort_values(["user_id", "epoch"])
        .reset_index(drop=True)
    )
    want = (
        range_vol(ev)
        .toPandas()
        .sort_values(["symbol", "epoch"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for col in ("o", "h", "l", "c"):
        assert (got[col].values == want[col].values).all(), col
    for col in ("park_var", "gk_var", "rs_var"):
        a, b = got[col], want[col]
        assert ((a == b) | (a.isna() & b.isna())).all(), col


def test_stream_adx_matches_batch_closed_candles(spark, tmpdir):
    """Live ADX: a 2-batch replay must equal the batch operator
    float64-for-float64 on every CLOSED daily candle — the previous
    candle, the open candle, and all four RMA accumulators carry
    across the batch boundary."""
    from datetime import datetime

    from marketstore_spark.operators.quant import adx
    from marketstore_spark.streaming.bars import stream_adx

    cols = ["user_id", "ts", "event_id", "value"]
    rows = [
        (1, datetime(2024, 1, 1, 10), 1, 100.0),
        (1, datetime(2024, 1, 1, 14), 2, 102.0),
        (1, datetime(2024, 1, 2, 10), 3, 104.0),
        (1, datetime(2024, 1, 2, 14), 4, 101.0),
        # --- batch boundary mid-day-3 ---
        (1, datetime(2024, 1, 3, 10), 5, 103.0),
        (1, datetime(2024, 1, 3, 14), 6, 106.0),
        (1, datetime(2024, 1, 4, 10), 7, 105.0),
        (1, datetime(2024, 1, 4, 14), 8, 102.0),
        (1, datetime(2024, 1, 5, 10), 9, 107.0),  # opens day 5: day 4 closes
    ]
    b0, b1 = rows[:4], rows[4:]
    src = os.path.join(tmpdir, "adxticks")
    df0 = spark.createDataFrame(b0, cols)
    df0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, df0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_adx(stream, n=2, timeframe="1 day")
        .writeStream.format("memory")
        .queryName("live_adx")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["epoch"]: r for r in spark.sql("select * from live_adx").collect()}
    # days 2-4 are closed AND have a predecessor; day 5 is open
    batch = {
        r["epoch"]: r
        for r in adx(spark.createDataFrame(rows, cols), n=2).collect()
        if r["epoch"].day <= 4
    }
    assert set(got) == set(batch) and len(got) == 3
    for ep, want in batch.items():
        r = got[ep]
        for c in ("dmp", "dmm", "tr", "di_plus", "di_minus", "dx", "adx"):
            assert r[c] == want[c], (ep, c, r[c], want[c])


def test_stream_mfi_matches_batch_closed_candles(spark, tmpdir):
    """Live MFI: a 2-batch replay must equal the batch operator on
    every CLOSED daily candle — open candle, previous typical price,
    and the (pos, neg) flow window all carry across the boundary."""
    from datetime import datetime

    from marketstore_spark.operators.quant import mfi
    from marketstore_spark.streaming.bars import stream_mfi

    cols = ["user_id", "ts", "event_id", "value", "volume"]
    rows = [
        (1, datetime(2024, 1, 1, 10), 1, 100.0, 10),
        (1, datetime(2024, 1, 1, 14), 2, 102.0, 5),
        (1, datetime(2024, 1, 2, 10), 3, 104.0, 20),
        # --- batch boundary mid-day-2 ---
        (1, datetime(2024, 1, 2, 14), 4, 101.0, 10),
        (1, datetime(2024, 1, 3, 10), 5, 103.0, 30),
        (1, datetime(2024, 1, 4, 10), 6, 99.0, 15),
        (1, datetime(2024, 1, 5, 10), 7, 107.0, 5),  # opens day 5
    ]
    b0, b1 = rows[:3], rows[3:]
    src = os.path.join(tmpdir, "mfiticks")
    df0 = spark.createDataFrame(b0, cols)
    df0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, df0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_mfi(stream, n=2, timeframe="1 day")
        .writeStream.format("memory")
        .queryName("live_mfi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["epoch"]: r["mfi"] for r in spark.sql("select * from live_mfi").collect()}
    batch = {
        r["epoch"]: r["mfi"]
        for r in mfi(spark.createDataFrame(rows, cols), n=2).collect()
        if r["epoch"].day <= 4  # day 5 is still open
    }
    assert set(got) == set(batch) and len(got) == 4
    for ep, want in batch.items():
        assert got[ep] == want, (ep, got[ep], want)


def test_stream_mfi_flows_past_int64_match_batch(spark, tmpdir):
    """Hot-symbol money flow past 2^63: a candle's tp3·volume here is
    ~3·10¹⁹ (> int64), so array<long> state would overflow where the
    batch operator's DECIMAL(38,0) sums are guarded — the flow tails
    must round-trip through state as decimal strings, exactly
    (ADVICE r08, the batch-equality contract at 100 TB volumes)."""
    from datetime import datetime

    from marketstore_spark.operators.quant import mfi
    from marketstore_spark.streaming.bars import stream_mfi

    cols = ["user_id", "ts", "event_id", "value", "volume"]
    vol = 10**13  # tp3≈2.7·10^7 cents → mf ≈ 2.7·10^20 per candle
    rows = [
        (1, datetime(2024, 1, 1, 10), 1, 90_000.0, vol),
        (1, datetime(2024, 1, 2, 10), 2, 91_000.0, vol),
        # --- batch boundary: giant flows must survive state ---
        (1, datetime(2024, 1, 3, 10), 3, 90_500.0, vol),
        (1, datetime(2024, 1, 4, 10), 4, 92_000.0, vol),
        (1, datetime(2024, 1, 5, 10), 5, 90_000.0, vol),  # opens d5
    ]
    b0, b1 = rows[:2], rows[2:]
    src = os.path.join(tmpdir, "mfibig")
    df0 = spark.createDataFrame(b0, cols)
    df0.coalesce(1).write.parquet(os.path.join(src, "b0"))
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, df0.schema, max_files_per_trigger=1, recursive=True
    )
    q = (
        stream_mfi(stream, n=2, timeframe="1 day")
        .writeStream.format("memory")
        .queryName("live_mfi_big")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["epoch"]: r["mfi"]
        for r in spark.sql("select * from live_mfi_big").collect()
    }
    batch = {
        r["epoch"]: r["mfi"]
        for r in mfi(spark.createDataFrame(rows, cols), n=2).collect()
        if r["epoch"].day <= 4  # day 5 is still open
    }
    assert set(got) == set(batch) and len(got) == 4
    # the warmed-up values are real (non-null) and float64-identical
    assert any(v is not None for v in got.values())
    for ep, want in batch.items():
        assert got[ep] == want, (ep, got[ep], want)


def test_stream_adx_state_survives_restart(spark, tmpdir):
    """The four RMA accumulators, the previous candle, and the open
    candle must round-trip through the checkpointed state store across
    a full query STOP/RESTART: the pre-restart days seed the
    recurrences, and the post-restart emissions must still be
    float64-equal to the batch operator over the whole series."""
    from datetime import datetime

    from marketstore_spark.operators.quant import adx
    from marketstore_spark.streaming.bars import stream_adx

    cols = "user_id long, ts timestamp, event_id long, value double"
    rows0 = [
        (1, datetime(2024, 1, 1, 10), 1, 100.0),
        (1, datetime(2024, 1, 2, 10), 2, 104.0),
        (1, datetime(2024, 1, 3, 10), 3, 101.0),
    ]
    rows1 = [
        (1, datetime(2024, 1, 4, 10), 4, 106.0),
        (1, datetime(2024, 1, 5, 10), 5, 103.0),
        (1, datetime(2024, 1, 6, 10), 6, 108.0),  # opens day 6
    ]
    src = os.path.join(tmpdir, "adxrestart")
    ckpt = os.path.join(tmpdir, "adxckpt")
    out = os.path.join(tmpdir, "adxout")
    b0 = spark.createDataFrame(rows0, cols)
    b0.coalesce(1).write.parquet(os.path.join(src, "b0"))

    def run_once():
        stream = read_stream(
            spark, src, b0.schema, max_files_per_trigger=1, recursive=True
        )
        q = (
            stream_adx(stream, n=2, timeframe="1 day")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(rows1, cols).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    run_once()

    got = {r["epoch"]: r for r in spark.read.parquet(out).collect()}
    batch = {
        r["epoch"]: r
        for r in adx(spark.createDataFrame(rows0 + rows1, cols), n=2).collect()
        if r["epoch"].day <= 5  # day 6 is still open
    }
    assert set(got) == set(batch) and len(got) == 4
    for ep, want in batch.items():
        for c in ("dmp", "dmm", "tr", "di_plus", "di_minus", "dx", "adx"):
            assert got[ep][c] == want[c], (ep, c)


def test_stream_funnel_matches_batch_across_microbatches(spark, sf_dir, tmpdir):
    """Live per-user funnel chains == the batch event_funnel on the
    union of the micro-batches: the carried chain must continue across
    the batch boundary (a user whose 'view' landed in batch 0 and
    'click' in batch 1 still advances), and the step counts derived
    from the final per-user depths must equal the batch operator's."""
    from marketstore_spark.operators.funnel import event_funnel
    from marketstore_spark.streaming.funnel import stream_funnel

    W = 86400 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = os.path.join(tmpdir, "funnel_feed")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.filter(F.col("event_id") <= mid).orderBy("ts").coalesce(1).write.parquet(
        os.path.join(src, "b0")
    )
    ev.filter(F.col("event_id") > mid).orderBy("ts").coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, ev.schema, max_files_per_trigger=1, recursive=True
    )
    live = stream_funnel(stream, ["view", "click", "purchase"], window_us=W)
    q = (
        live.writeStream.format("memory")
        .queryName("live_funnel")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from live_funnel").toPandas()
    # ≥2 micro-batches ran: at least one user must have emitted twice
    assert rows.groupby("user_id").size().max() >= 2
    # final state per user = the last emitted row (monotone depth)
    final = rows.groupby("user_id")["depth"].max()
    got = {
        d + 1: int((final >= d + 1).sum()) for d in range(3)
    }
    want = {
        int(r["step"]): int(r["users"])
        for r in event_funnel(
            ev, ["view", "click", "purchase"], window_us=W
        ).collect()
    }
    assert got == want
    # chains respect the window anchor: every set step-k time is within
    # W of the user's anchor and strictly increasing along the chain
    for ch in rows["chain_us"]:
        ts = [t for t in ch if t != -1]
        assert ts == sorted(ts) and len(set(ts)) == len(ts)
        if len(ch) > 1 and ch[0] != -1:
            for t in ch[1:]:
                if t != -1:
                    assert t <= ch[0] + W


def test_stream_transitions_sums_to_batch_across_microbatches(spark, sf_dir, tmpdir):
    """Summing the per-batch transition partials over a 2-batch split
    equals the batch operator exactly — including the boundary
    transition between a user's last batch-0 event and first batch-1
    event, which only the carried state can produce."""
    from marketstore_spark.operators.funnel import event_transitions
    from marketstore_spark.streaming.funnel import stream_transitions

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = os.path.join(tmpdir, "trans_feed")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.filter(F.col("event_id") <= mid).orderBy("ts").coalesce(1).write.parquet(
        os.path.join(src, "b0")
    )
    ev.filter(F.col("event_id") > mid).orderBy("ts").coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = read_stream(
        spark, src, ev.schema, max_files_per_trigger=1, recursive=True
    )
    live = stream_transitions(stream)
    q = (
        live.writeStream.format("memory")
        .queryName("live_transitions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["from_type"], r["to_type"]): int(r["total"])
        for r in spark.sql(
            "select from_type, to_type, sum(transitions) as total "
            "from live_transitions group by 1, 2"
        ).collect()
    }
    want = {
        (r["from_type"], r["to_type"]): int(r["transitions"])
        for r in event_transitions(ev).collect()
    }
    assert got == want
    # the boundary mattered: per-user emitted transitions must exceed
    # what batch-0 alone contains for at least one user (i.e. some user
    # produced rows in both batches)
    n_batches = spark.sql(
        "select count(*) c from (select user_id, count(*) c2 "
        "from live_transitions group by user_id, from_type, to_type having count(*) >= 1)"
    ).collect()[0]["c"]
    assert n_batches > 0


def test_stream_sessions_match_batch_across_batch_split(spark, sf_dir, tmpdir):
    """Native session windows == batch sessionize at every integer-µs
    gap (the gap·10⁶+1 window encodes the batch operator's
    strictly-greater break), including a session that STRADDLES the
    micro-batch boundary — the merge Structured Streaming's session
    state exists for.  Also pins the exact-boundary contract: a gap of
    exactly gap_seconds stays ONE session."""
    import datetime as dt

    from marketstore_spark.operators.sessionize import sessionize
    from marketstore_spark.streaming.sessions import stream_sessions

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows_a = [
        # user 1, session A: two events 10s apart
        (1, t0, 1, 1.0),
        (2, t0 + dt.timedelta(seconds=10), 1, 1.0),
        # user 2, session A opens near the end of batch 1
        (3, t0 + dt.timedelta(seconds=40), 2, 1.0),
    ]
    rows_b = [
        # user 2's session CONTINUES in batch 2 (gap 60s < 900)
        (4, t0 + dt.timedelta(seconds=100), 2, 1.0),
        # user 1, gap of exactly 900s from event 2 → SAME session
        (5, t0 + dt.timedelta(seconds=910), 1, 1.0),
        # user 1, gap 901s from event 5 → NEW session
        (6, t0 + dt.timedelta(seconds=1811), 1, 1.0),
    ]
    schema = "event_id long, ts timestamp, user_id long, value double"
    src = os.path.join(tmpdir, "sess_incoming")
    # ONE file per micro-batch: multi-file writes process in arbitrary
    # order, and a tight watermark would then drop "late" early events
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    q = (
        stream_sessions(stream, gap_seconds=900, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("stream_sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("select * from stream_sessions_test").collect()
    }
    batch = spark.createDataFrame(rows_a + rows_b, schema)
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in sessionize(batch, gap_seconds=900).collect()
    }
    assert got == want
    # the straddling session merged: user 2 has ONE session of 2 events
    u2 = [(k, v) for k, v in got.items() if k[0] == 2]
    assert len(u2) == 1 and u2[0][1] == 2
    # exact-boundary gap stayed one session; 901s gap broke
    u1 = sorted((k[1], v) for k, v in got.items() if k[0] == 1)
    assert [v for _, v in u1] == [3, 1]


def test_quality_transforms_are_streamable(spark, tmpdir):
    """gopher_rules and c4_clean are row-local (no shuffle, no
    aggregation), so the SAME operator runs unchanged on a streaming
    corpus feed — the landing-zone ingest shape: raw docs land, the
    quality battery annotates them in-flight, downstream sinks filter
    on keep_doc/gopher_pass.  Batch-equality pinned per doc."""
    import json as _json
    import os

    from marketstore_spark.operators.text import c4_clean, gopher_rules

    src = os.path.join(tmpdir, "docs_src")
    os.makedirs(src)
    docs = [
        {"doc_id": 1, "text": "A proper sentence with many words here.\n- bullet"},
        {"doc_id": 2, "text": "short"},
        {"doc_id": 3, "text": "Lorem ipsum dolor sit amet. " * 10},
    ]
    with open(os.path.join(src, "b1.json"), "w") as fh:
        fh.write("\n".join(_json.dumps(d) for d in docs))

    stream = spark.readStream.schema("doc_id long, text string").json(src)
    for name, op in (("gopher_stream", gopher_rules), ("c4_stream", c4_clean)):
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option(
                "checkpointLocation", os.path.join(tmpdir, f"ckpt_{name}")
            )
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(120)
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], ["doc_id", "text"]
    )
    for name, op in (("gopher_stream", gopher_rules), ("c4_stream", c4_clean)):
        got = {
            r["doc_id"]: r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        want = {r["doc_id"]: r.asDict() for r in op(batch_df).collect()}
        assert got == want and len(got) == 3, name


def test_stream_media_dedup_collapses_video_reencode(spark, tmpdir):
    """VIDEO ingest dedup: the same footage re-crawled as a DIB AVI
    and as an IDR+P avc1 MP4 GOP keys on the identical frame-dHash
    sequence and collapses to one row; different footage in the same
    container survives; a WAV payload (also RIFF) falls back to the
    byte-content key and survives."""
    import datetime

    import numpy as np

    from marketstore_spark.operators.mp4 import encode_mp4
    from marketstore_spark.operators.multimodal import (
        encode_wav_pcm16,
        synth_gradient_pixels,
    )
    from marketstore_spark.operators.video import encode_avi
    from marketstore_spark.streaming.dedup import dedup_media_stream

    clip = np.stack([synth_gradient_pixels(37 + 7 * i) for i in range(4)])
    other = np.stack([synth_gradient_pixels(200 - 11 * i) for i in range(4)])
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    wav = encode_wav_pcm16(np.arange(-500, 500, dtype=np.int16), 8000)
    rows = [
        (1, base, bytearray(encode_avi(clip, fps=10))),
        (2, base, bytearray(encode_mp4(clip, fps=10, codec="h264",
                                       quality=100, keyint=4))),
        (3, base, bytearray(encode_mp4(other, fps=10, codec="h264",
                                       quality=100, keyint=4))),
        (4, base, bytearray(wav)),
    ]
    df = spark.createDataFrame(rows, "media_id long, ts timestamp, payload binary")
    src = os.path.join(tmpdir, "media_video_incoming")
    df.write.mode("overwrite").parquet(src)
    stream = read_stream(spark, src, spark.read.parquet(src).schema)
    q = (
        dedup_media_stream(stream, horizon="365 days")
        .writeStream.format("memory")
        .queryName("media_video_dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select media_id, dhash from media_video_dedup_test"
    ).toPandas()
    kept = set(got["media_id"])
    assert len(kept) == 3 and kept & {1, 2} != {1, 2}  # one of the twins
    assert {3, 4} <= kept
