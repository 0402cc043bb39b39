"""bgworker plugin-loader tests (bgworker.py — plugins/bgworker
analogue): load-time validation, thread lifecycle, failure isolation,
and a real streaming job mounted as a worker."""

import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from marketstore_spark.bgworker import (
    BgWorkerHost,
    StreamingQueryWorker,
    WorkerSpec,
    load_worker,
)

_PLUGIN = '''
import threading

class _Worker:
    def __init__(self, config):
        self.config = config
        self.ran = threading.Event()
        self.stopped = threading.Event()

    def run(self):
        self.ran.set()
        if self.config.get("explode"):
            raise RuntimeError("plugin exploded")
        self.stopped.wait(30)

    def stop(self):
        self.stopped.set()

def new_bg_worker(config):
    return _Worker(config)

def bad_factory(config):
    return object()  # no run()
'''


@pytest.fixture()
def plugin_mod(tmp_path):
    (tmp_path / "demo_feed_plugin.py").write_text(_PLUGIN)
    sys.path.insert(0, str(tmp_path))
    try:
        yield "demo_feed_plugin"
    finally:
        sys.path.remove(str(tmp_path))
        sys.modules.pop("demo_feed_plugin", None)


def test_load_validates_at_load_time(plugin_mod):
    with pytest.raises(ModuleNotFoundError):
        load_worker(WorkerSpec(module="no_such_plugin", name="x"))
    with pytest.raises(AttributeError, match="factory"):
        load_worker(WorkerSpec(module=plugin_mod, name="x", factory="nope"))
    with pytest.raises(TypeError, match="BgWorker interface"):
        load_worker(WorkerSpec(module=plugin_mod, name="x", factory="bad_factory"))


def test_host_runs_and_stops_workers(plugin_mod):
    host = BgWorkerHost(log=lambda s: None)
    host.load(
        [
            {"module": plugin_mod, "name": "feed1", "config": {"k": 1}},
            WorkerSpec(module=plugin_mod, name="feed2"),
        ]
    )
    host.start()
    for h in host.handles:
        assert h.worker.ran.wait(10)
        assert h.alive
    assert host.handles[0].worker.config == {"k": 1}
    host.stop()
    assert all(not h.alive for h in host.handles)
    assert all(h.error is None for h in host.handles)


def test_worker_crash_is_isolated(plugin_mod):
    logs = []
    host = BgWorkerHost(log=logs.append)
    host.load(
        [
            {"module": plugin_mod, "name": "boom", "config": {"explode": True}},
            {"module": plugin_mod, "name": "steady"},
        ]
    )
    host.start()
    deadline = time.time() + 10
    while host.handles[0].error is None and time.time() < deadline:
        time.sleep(0.05)
    assert isinstance(host.handles[0].error, RuntimeError)
    assert any("boom" in line and "exploded" in line for line in logs)
    assert host.handles[1].alive  # the healthy worker is untouched
    host.stop()


def test_compaction_worker_sweeps_fragmented_buckets(spark, tmpdir):
    from pyspark.sql import Row

    from marketstore_spark import txn
    from marketstore_spark.bgworker import CompactionWorker
    from marketstore_spark.catalog import Catalog

    cat = Catalog(spark, os.path.join(str(tmpdir), "root"))
    df = spark.createDataFrame([Row(ts=i, user_id=i % 2, value=float(i)) for i in range(20)])
    for i in range(5):  # five append commits -> >= 5 live files
        cat.write("FRAG/1Min/TICK", df)
    cat.write("OK/1Min/TICK", df.coalesce(1))

    w = CompactionWorker(cat, max_files=3, interval_s=3600)
    done = w.sweep()
    assert done == ["FRAG/1Min/TICK"]  # OK/ untouched (1 commit)
    path = cat.root + "/FRAG/1Min/TICK"
    assert len(txn.data_files(path)) <= 3
    assert cat.read("FRAG/1Min/TICK").count() == 100
    assert w.sweep() == []  # idempotent once compacted


def test_backfill_high_water_mark(spark, tmpdir):
    from pyspark.sql import Row

    from marketstore_spark.catalog import Catalog
    from marketstore_spark.streaming.writer import backfill

    cat = Catalog(spark, os.path.join(str(tmpdir), "root"))

    def mk(lo, hi):
        return spark.createDataFrame(
            [Row(ts=i, user_id=i % 2, value=float(i)) for i in range(lo, hi)]
        )

    # bucket absent: full history lands
    assert backfill(cat, "BF/1Min/TICK", mk(0, 50)) == 50
    # overlapping refetch: only rows past the high-water mark append
    assert backfill(cat, "BF/1Min/TICK", mk(30, 80)) == 30
    assert cat.read("BF/1Min/TICK").count() == 80
    # crash-rerun idempotence: same source appends nothing
    assert backfill(cat, "BF/1Min/TICK", mk(30, 80)) == 0
    assert cat.read("BF/1Min/TICK").count() == 80


def test_backfill_raises_when_the_bucket_cannot_be_read(spark, tmpdir):
    """Only a bucket with no data file is absent: a committed data file
    that cannot be read fails the backfill instead of reading as an
    empty bucket and appending the whole source a second time."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Row

    from marketstore_spark import txn
    from marketstore_spark.catalog import Catalog, TimeBucketKey
    from marketstore_spark.streaming.writer import backfill

    cat = Catalog(spark, os.path.join(str(tmpdir), "root"))
    key = "BF/1Min/TICK"
    src = spark.createDataFrame(
        [Row(ts=i, user_id=i % 2, value=float(i)) for i in range(50)]
    )
    assert backfill(cat, key, src) == 50
    path = TimeBucketKey(key).path(cat.root)
    for f in txn.data_files(path):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        backfill(cat, key, src)
    assert txn.current_version(path) == 0


def test_streaming_query_mounts_as_worker(spark, tmpdir):
    """A real Structured Streaming job (rate source -> noop-ish sink)
    runs under the host and stops cooperatively."""
    out = os.path.join(str(tmpdir), "out")
    ckpt = os.path.join(str(tmpdir), "ckpt")

    def start():
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "10")
            .load()
            .withColumn("v", F.col("value") * 2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    worker = StreamingQueryWorker(start)
    host = BgWorkerHost(log=lambda s: None)
    host.handles.append(
        __import__("marketstore_spark.bgworker", fromlist=["WorkerHandle"])
        .WorkerHandle(WorkerSpec(module="-", name="rate"), worker)
    )
    host.start()
    deadline = time.time() + 60
    while time.time() < deadline:
        if worker._query is not None and worker._query.isActive:
            break
        time.sleep(0.1)
    assert worker._query is not None and worker._query.isActive
    host.stop(timeout=60)
    assert not worker._query.isActive
    assert all(h.error is None for h in host.handles)
