"""Telemetry tests (metrics.py — metrics/metrics.go + du.go analogue)."""

import threading

from pyspark.sql import Row

from marketstore_spark import txn
from marketstore_spark.catalog import Catalog
from marketstore_spark.metrics import (
    MetricsRegistry,
    disk_usage,
    du_report,
    start_disk_usage_monitor,
)


def _mkdf(spark, n, base=0):
    return spark.createDataFrame(
        [Row(ts=i, user_id=i % 3, value=float(base + i)) for i in range(n)]
    )


def test_registry_counters_gauges_histograms():
    m = MetricsRegistry(buckets=(0.1, 1.0))
    m.inc("writes_total")
    m.inc("writes_total", 2)
    m.inc("reads_total", key="A/1Min/TICK")
    m.set_gauge("disk_usage_bytes", 1234.0)
    m.observe("write_duration_seconds", 0.05)
    m.observe("write_duration_seconds", 0.5)
    m.observe("write_duration_seconds", 5.0)
    snap = m.snapshot()
    assert snap["counters"]["writes_total"] == 3
    assert snap["counters"]['reads_total{key="A/1Min/TICK"}'] == 1
    assert snap["gauges"]["disk_usage_bytes"] == 1234.0
    h = snap["histograms"]["write_duration_seconds"]
    assert h["count"] == 3 and abs(h["sum"] - 5.55) < 1e-9
    # bucket counts are cumulative: le=0.1 -> 1, le=1.0 -> 2, +Inf -> 3
    assert h["buckets"] == {"0.1": 1, "1.0": 2}


def test_prometheus_exposition_format():
    m = MetricsRegistry(buckets=(0.1, 1.0))
    m.inc("writes_total")
    m.observe("write_duration_seconds", 0.05)
    text = m.render_prometheus()
    assert "# TYPE marketstore_spark_writes_total counter" in text
    assert "marketstore_spark_writes_total 1.0" in text
    assert '_bucket{le="0.1"} 1' in text
    assert '_bucket{le="+Inf"} 1' in text
    assert "_count 1" in text


def test_catalog_ops_feed_registry(spark, tmp_path):
    m = MetricsRegistry()
    cat = Catalog(spark, str(tmp_path), metrics=m)
    cat.write("MET/1Min/TICK", _mkdf(spark, 5))
    cat.read("MET/1Min/TICK").count()
    snap = m.snapshot()
    assert snap["counters"]["writes_total"] == 1
    assert snap["counters"]["reads_total"] >= 1
    assert snap["histograms"]["write_duration_seconds"]["count"] == 1


def test_compact_is_timed_as_a_write(spark, tmp_path):
    m = MetricsRegistry()
    cat = Catalog(spark, str(tmp_path), metrics=m)
    cat.write("MET/1Min/TICK", _mkdf(spark, 5))
    before = m.snapshot()["histograms"]["write_duration_seconds"]["count"]
    cat.compact("MET/1Min/TICK")
    snap = m.snapshot()
    assert snap["histograms"]["write_duration_seconds"]["count"] == before + 1
    assert snap["counters"]["writes_total"] == 1  # a rewrite adds no rows


def test_du_report_live_vs_total(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path), metrics=MetricsRegistry())
    for i in range(3):
        cat.write("DU/1Min/TICK", _mkdf(spark, 10, base=i * 10))
    cat.compact("DU/1Min/TICK")
    rep = du_report(cat)
    assert [r["key"] for r in rep] == ["DU/1Min/TICK"]
    r = rep[0]
    # superseded pre-compact files still on disk: total > live
    assert r["total_bytes"] > r["live_bytes"] > 0
    assert r["versions"] == 4 and r["live_files"] >= 1
    # after an explicit vacuum the gap closes
    path = str(tmp_path / "DU" / "1Min" / "TICK")
    txn.vacuum(path, min_age_seconds=0)
    r2 = du_report(cat)[0]
    assert r2["live_bytes"] == r["live_bytes"]
    assert r2["total_bytes"] < r["total_bytes"]


def test_disk_usage_monitor_sets_gauge(tmp_path):
    (tmp_path / "x.bin").write_bytes(b"z" * 4096)
    m = MetricsRegistry()
    stop = threading.Event()
    t = start_disk_usage_monitor(m, str(tmp_path), interval_s=0.05, stop_event=stop)
    for _ in range(100):
        if m.snapshot()["gauges"].get("disk_usage_bytes"):
            break
        import time

        time.sleep(0.02)
    assert m.snapshot()["gauges"]["disk_usage_bytes"] >= 4096
    assert disk_usage(str(tmp_path)) >= 4096
    stop.set()
    t.join(timeout=5)
    assert not t.is_alive()
