"""Atomic-commit protocol tests (txn.py — the WAL analogue).

Reference behavior being matched: executor/wal.go guarantees a crashed
writer never leaves a partially-visible bucket; replay/cleanup restores
a consistent state.  Here the protocol is manifest-pointer commits, so
the tests inject faults at the only publish point and assert readers
always see a complete version.  A mid-flight kill is simulated by an
exception raised from the fault hook: every protocol step before the
atomic ``os.link`` leaves identical on-disk state to a SIGKILL at the
same point (no state is process-resident), so the injection is an
exact stand-in for the kill.
"""

import os

import pytest
from pyspark.sql import Row

from marketstore_spark import txn
from marketstore_spark.catalog import Catalog


class Boom(RuntimeError):
    pass


def _kill(point):  # the "process dies here" stand-in
    raise Boom(point)


def _mkdf(spark, n, base=0):
    return spark.createDataFrame(
        [Row(ts=i, user_id=i % 3, value=float(base + i)) for i in range(n)]
    )


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path))


KEY = "TEST/1Min/TICK"


def test_append_commit_and_read(cat, spark):
    cat.write(KEY, _mkdf(spark, 10))
    cat.write(KEY, _mkdf(spark, 5, base=100))
    assert cat.read(KEY).count() == 15
    path = cat.root + "/TEST/1Min/TICK"
    assert txn.current_version(path) == 1


def test_crashed_append_invisible_then_vacuumed(cat, spark):
    cat.write(KEY, _mkdf(spark, 10))
    path = cat.root + "/TEST/1Min/TICK"
    with pytest.raises(Boom):
        txn.commit_write(_mkdf(spark, 7, base=50), path, crash_hook=_kill)
    # Reader sees the old version in full — never 10+partial.
    assert cat.read(KEY).count() == 10
    assert txn.current_version(path) == 0
    # Retention gate: a default-age vacuum must NOT touch the fresh
    # debris (it is indistinguishable from a live writer's staging).
    swept = txn.vacuum(path)
    assert swept["removed_files"] == 0
    # Past the retention window (simulated via min_age=0) it sweeps.
    swept = txn.vacuum(path, min_age_seconds=0)
    assert swept["removed_files"] >= 1
    assert cat.read(KEY).count() == 10


def test_crashed_compact_keeps_old_version(cat, spark):
    for i in range(4):
        cat.write(KEY, _mkdf(spark, 10, base=i * 10))
    path = cat.root + "/TEST/1Min/TICK"
    before_files = txn.data_files(path)
    df = cat.read(KEY)
    with pytest.raises(Boom):
        txn.commit_write(df.repartition(1), path, mode="replace", crash_hook=_kill)
    assert cat.read(KEY).count() == 40
    assert txn.data_files(path) == before_files  # snapshot untouched


def test_reader_mid_commit_sees_old_snapshot(cat, spark):
    """At the instant before the pointer flip — after ALL data files
    are staged — a reader still plans exactly the old version."""
    cat.write(KEY, _mkdf(spark, 10))
    path = cat.root + "/TEST/1Min/TICK"
    seen = []

    def probe(point):
        seen.append(cat.read(KEY).count())

    txn.commit_write(_mkdf(spark, 5, base=100), path, crash_hook=probe)
    assert seen == [10]  # mid-commit read = old version, not 10+5
    assert cat.read(KEY).count() == 15  # post-commit read = new version


def test_publish_cas_retries_on_collision(cat, spark):
    cat.write(KEY, _mkdf(spark, 3))
    path = cat.root + "/TEST/1Min/TICK"
    # Another writer claims version 1 between our read and our link.
    rels, schema = txn.stage_files(_mkdf(spark, 2, base=10), path)
    mdir = os.path.join(path, txn.MANIFEST_DIR)
    import json

    with open(os.path.join(mdir, f"{1:012d}.json"), "w") as fh:
        json.dump({"version": 1, "files": [], "schema": schema}, fh)
    v = txn.publish(path, rels, schema, mode="append")
    assert v == 2  # lost the CAS on 1, retried onto 2
    # Retry rebuilt from the interloper's (empty) version-1 list.
    assert cat.read(KEY).count() == 2


def test_delete_range_no_gone_window_and_time_travel(cat, spark):
    cat.write(KEY, _mkdf(spark, 10))
    removed = cat.delete_range(KEY, 3, 6, ts_col="ts")
    assert removed == 4
    assert cat.read(KEY).count() == 6
    # Old snapshot still addressable (replace keeps prior files).
    assert cat.read(KEY, version=0).count() == 10


def test_compact_reclaims_and_preserves_rows(cat, spark):
    for i in range(5):
        cat.write(KEY, _mkdf(spark, 10, base=i * 10))
    stats = cat.compact(KEY, target_file_mb=128)
    assert stats["rows"] == 50
    assert stats["files_after"] < stats["files_before"]
    assert cat.read(KEY).count() == 50


def test_create_empty_bucket_readable_schema(cat, spark):
    cat.create(KEY, _mkdf(spark, 1))
    df = cat.read(KEY)
    assert df.count() == 0
    assert set(df.columns) == {"ts", "user_id", "value"}
    with pytest.raises(FileExistsError):
        cat.create(KEY, _mkdf(spark, 1))


def test_bucket_exists_iff_it_has_a_manifest(cat, spark):
    """A directory a dead create left without a manifest is no bucket:
    reading it raises FileNotFoundError naming it, and create works."""
    path = cat.root + "/TEST/1Min/TICK"
    os.makedirs(os.path.join(path, ".stage-deadbeef"))
    with pytest.raises(FileNotFoundError, match="TEST/1Min/TICK"):
        cat.read(KEY)
    assert txn.data_files(path) == []
    cat.create(KEY, _mkdf(spark, 1))
    assert cat.read(KEY).count() == 0
    assert txn.current_version(path) == 0


def test_concurrent_appends_all_land(cat, spark):
    """N threads append concurrently through the CAS publish loop:
    every commit must land (no lost updates), versions must be a
    contiguous 0..N-1 range, and the final snapshot holds every row."""
    import threading

    n_writers, rows_each = 6, 20
    errs = []

    def work(i):
        try:
            cat.write(KEY, _mkdf(spark, rows_each, base=i * 1000))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    path = cat.root + "/TEST/1Min/TICK"
    assert txn.current_version(path) == n_writers - 1  # contiguous CAS wins
    df = cat.read(KEY)
    assert df.count() == n_writers * rows_each
    # every writer's batch is fully present (no torn commits)
    got = {r["value"] for r in df.collect()}
    expect = {float(i * 1000 + j) for i in range(n_writers) for j in range(rows_each)}
    assert got == expect


def test_replace_merges_concurrent_append(cat, spark):
    """Compaction racing an append must not drop the appended rows:
    the replace detects its base advanced and merges the appended
    files (snapshot-isolation, Iceberg/Delta conflict handling)."""
    for i in range(3):
        cat.write(KEY, _mkdf(spark, 10, base=i * 10))
    path = cat.root + "/TEST/1Min/TICK"
    base = txn.current_version(path)  # v2: the compactor's snapshot
    rewritten = cat.read(KEY).repartition(1)
    rels, schema = txn.stage_files(rewritten, path)
    # An append lands AFTER the compactor snapshotted, BEFORE it publishes.
    cat.write(KEY, _mkdf(spark, 5, base=1000))
    v = txn.publish(path, rels, schema, mode="replace", base_version=base)
    assert v == txn.current_version(path)
    df = cat.read(KEY)
    assert df.count() == 35  # 30 rewritten + 5 concurrently appended
    got = {r["value"] for r in df.collect()}
    assert {float(1000 + j) for j in range(5)} <= got  # append survived


def test_replace_vs_replace_conflicts(cat, spark):
    """Two concurrent replaces cannot merge (the second would resurrect
    files the first dropped) — the loser must get a conflict error."""
    for i in range(2):
        cat.write(KEY, _mkdf(spark, 10, base=i * 10))
    path = cat.root + "/TEST/1Min/TICK"
    base = txn.current_version(path)
    rels, schema = txn.stage_files(cat.read(KEY).repartition(1), path)
    cat.delete_range(KEY, 0, 4, ts_col="ts")  # concurrent replace wins first
    with pytest.raises(txn.CommitConflictError, match="concurrent replace"):
        txn.publish(path, rels, schema, mode="replace", base_version=base)
    # Loser's failure left the winner's state intact.
    assert cat.read(KEY).count() == 10  # 20 - (ts 0..4 across 2 batches)


def test_vacuum_spares_young_inflight_staging(cat, spark, tmp_path):
    """A writer between stage_files and publish owns unreferenced
    files; a default-retention vacuum must not destroy them."""
    cat.write(KEY, _mkdf(spark, 5))
    path = cat.root + "/TEST/1Min/TICK"
    rels, schema = txn.stage_files(_mkdf(spark, 3, base=50), path)
    swept = txn.vacuum(path)  # default retention: fresh files survive
    assert swept["removed_files"] == 0
    v = txn.publish(path, rels, schema, mode="append")  # commit still works
    assert cat.read(KEY, version=v).count() == 8


def test_partitioned_commit_crash_leaves_old_snapshot(spark, tmp_path):
    """The 100 TB layout (hive-partitioned) now goes through the same
    manifest protocol: a mid-overwrite kill leaves the old snapshot
    fully readable — never a torn store."""
    from marketstore_spark.sources.parquet import (
        read_bucket_store,
        write_bucket_store,
    )

    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    base = spark.createDataFrame(
        [Row(epoch=1_700_000_000_000_000 + i * 3_600_000_000, user_id=i % 3,
             value=float(i)) for i in range(30)]
    ).select(F.timestamp_micros("epoch").alias("ts"), "user_id", "value")
    v0 = write_bucket_store(base, root)
    assert v0 == 0
    before = read_bucket_store(spark, root).count()
    with pytest.raises(Boom):
        txn.commit_write(
            base.limit(5).select("ts", "user_id", "value",
                                 F.col("user_id").alias("symbol"),
                                 F.to_date("ts").alias("date")),
            root, mode="replace", crash_hook=_kill,
            partition_by=("symbol", "date"),
        )
    after = read_bucket_store(spark, root)
    assert after.count() == before == 30
    # partition columns still come back typed and prunable
    assert {"symbol", "date"} <= set(after.columns)
    # crash debris sweepable without touching the live snapshot
    txn.vacuum(root, min_age_seconds=0)
    assert read_bucket_store(spark, root).count() == 30


def test_partitioned_append_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    from marketstore_spark.sources.parquet import (
        read_bucket_store,
        write_bucket_store,
    )

    root = str(tmp_path / "store")

    def mk(n, base=0):
        return spark.createDataFrame(
            [Row(epoch=1_700_000_000_000_000 + (base + i) * 3_600_000_000,
                 user_id=(base + i) % 3, value=float(base + i)) for i in range(n)]
        ).select(F.timestamp_micros("epoch").alias("ts"), "user_id", "value")

    write_bucket_store(mk(20), root)
    write_bucket_store(mk(10, base=100), root, mode="append")
    store = read_bucket_store(spark, root)
    assert store.count() == 30
    # appended rows landed under their own hive dirs in the manifest
    assert txn.read_bucket(spark, root, version=0).count() == 20
    # partition dtypes survived the dir-name round trip
    assert dict(store.dtypes)["symbol"] == "bigint"


def test_partitioned_concurrent_appends_all_land(spark, tmp_path):
    """The partitioned layout rides the same CAS publish loop: N
    concurrent appends through write_bucket_store must all land, with
    contiguous versions and every row present."""
    import threading

    from pyspark.sql import functions as F

    from marketstore_spark.sources.parquet import (
        read_bucket_store,
        write_bucket_store,
    )

    root = str(tmp_path / "store")

    def mk(base):
        return spark.createDataFrame(
            [Row(epoch=1_700_000_000_000_000 + (base + i) * 3_600_000_000,
                 user_id=(base + i) % 3, value=float(base + i)) for i in range(10)]
        ).select(F.timestamp_micros("epoch").alias("ts"), "user_id", "value")

    write_bucket_store(mk(0), root)
    errs = []

    def work(i):
        try:
            write_bucket_store(mk((i + 1) * 100), root, mode="append")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert txn.current_version(root) == 4
    df = read_bucket_store(spark, root)
    assert df.count() == 50
    got = {r["value"] for r in df.collect()}
    expect = {float(j) for j in range(10)} | {
        float((i + 1) * 100 + j) for i in range(4) for j in range(10)
    }
    assert got == expect


def test_append_schema_mismatch_rejected(cat, spark):
    """A divergent-schema append must fail at commit time — an
    explicit-file-list scan takes the first file's schema, so a torn
    layout would silently garble reads."""
    cat.write(KEY, _mkdf(spark, 5))
    bad = spark.createDataFrame([Row(ts=1, user_id=2, value="not-a-double")])
    with pytest.raises(ValueError, match="schema does not match"):
        cat.write(KEY, bad)
    assert cat.read(KEY).count() == 5  # bucket untouched
    # same schema still appends fine
    cat.write(KEY, _mkdf(spark, 2, base=50))
    assert cat.read(KEY).count() == 7


def test_tpch_refresh_stream_scenario(spark, tmp_path, sf_dir):
    """The TPC-H maintenance pattern (RF1 insert / RF2 delete) through
    the commit protocol: a lineitem bucket takes an insert batch, then
    a range delete, and (a) every aggregate equals the equivalent
    filter over the source data, (b) each refresh is one atomic
    version, (c) time travel reproduces every historical state."""
    from pyspark.sql import functions as F

    from marketstore_spark.catalog import load_table

    cat = Catalog(spark, str(tmp_path))
    key = "LINEITEM/1D/REFRESH"
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("ts"),
        F.col("l_orderkey").alias("user_id"),
        F.col("l_quantity").cast("double").alias("value"),
    )
    mid = li.approxQuantile("user_id", [0.8], 0.0)[0]
    base = li.filter(F.col("user_id") <= mid)
    rf1 = li.filter(F.col("user_id") > mid)

    def total(df):
        return df.agg(F.sum("value")).collect()[0][0]

    cat.write(key, base)
    v0_total = total(cat.read(key))
    assert v0_total == total(base)

    # RF1: insert batch = one atomic append version
    cat.write(key, rf1)
    path = cat.root + "/" + key
    assert txn.current_version(path) == 1
    assert total(cat.read(key)) == total(li)

    # RF2: delete a shipdate window = one atomic replace version
    bounds = cat.read(key).agg(F.min("ts"), F.max("ts")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    cut = lo + (hi - lo) / 4
    removed = cat.delete_range(key, lo, cut, ts_col="ts")
    assert removed > 0
    assert txn.current_version(path) == 2
    want = total(li.filter(~((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(cut)))))
    assert total(cat.read(key)) == want

    # time travel reproduces both historical states exactly
    assert total(txn.read_bucket(spark, path, version=0)) == v0_total
    assert total(txn.read_bucket(spark, path, version=1)) == total(li)


def test_string_partition_values_read_back_unchanged(spark, tmp_path):
    """Partition values round-trip through directory names; the
    committed schema types them, so a string column whose values look
    like numbers ('007', '042', '1e3') reads back unchanged and filters
    on its exact value."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "codes")
    df = spark.createDataFrame(
        [Row(ts=i, code=c, value=float(i)) for i, c in enumerate(["007", "042", "1e3"])]
    )
    txn.commit_write(df, root, partition_by=("code",))
    got = txn.read_bucket(spark, root)
    assert got.columns == ["ts", "code", "value"]  # committed column order
    assert dict(got.dtypes)["code"] == "string"
    assert sorted(r["code"] for r in got.collect()) == ["007", "042", "1e3"]
    assert [r["ts"] for r in got.filter(F.col("code") == "007").collect()] == [0]


def test_planning_a_read_starts_no_spark_job(cat, spark, job_group):
    """A versioned bucket's read is planned from the manifest (file
    list and schema), so planning it opens no footer and starts no
    Spark job; the same job group does see the jobs of running it."""
    from pyspark.sql import functions as F

    cat.write(KEY, _mkdf(spark, 10))
    cat.write(KEY, _mkdf(spark, 5, base=100))
    with job_group() as jobs:
        df = cat.read(KEY).filter(F.col("ts") > 3)
        assert df.columns == ["ts", "user_id", "value"]
        assert jobs() == []
        assert df.count() == 7  # ts 4..9 of the first write, ts 4 of the second
        assert jobs()


def test_partitioned_bucket_keeps_its_layout(spark, tmp_path):
    """A commit that names no layout inherits the bucket's: after a
    delete, a compaction and a replace-where on a
    ``write_bucket_store`` bucket the manifest still partitions by
    (symbol, date), a partitioned append still lands, and the rows are
    those the operations leave."""
    import datetime

    from pyspark.sql import functions as F

    from marketstore_spark.catalog import TimeBucketKey
    from marketstore_spark.sources.parquet import write_bucket_store

    t0 = datetime.datetime(2024, 1, 1)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    def ticks(lo, hi, bump=0.0):
        return spark.createDataFrame(
            [Row(ts=at(h), user_id="AB"[h % 2], value=h + bump) for h in range(lo, hi)]
        )

    cat = Catalog(spark, str(tmp_path))
    path = TimeBucketKey(KEY).path(cat.root)
    write_bucket_store(ticks(0, 60), path)
    rows = {(at(h), "AB"[h % 2], float(h)) for h in range(60)}

    def check(appended_from):
        assert txn.read_manifest(path, txn.current_version(path))["partition_by"] == [
            "symbol",
            "date",
        ]
        write_bucket_store(ticks(appended_from, appended_from + 3), path, mode="append")
        rows.update((at(h), "AB"[h % 2], float(h)) for h in range(appended_from, appended_from + 3))
        got = cat.read(KEY).select("ts", "user_id", "value").collect()
        assert sorted(tuple(r) for r in got) == sorted(rows)

    assert cat.delete_range(KEY, at(0), at(4)) == 5
    rows -= {r for r in rows if r[0] <= at(4)}
    check(100)

    cat.compact(KEY)
    check(200)

    new = ticks(30, 40, bump=0.5)
    new = new.withColumn("symbol", F.col("user_id")).withColumn("date", F.to_date("ts"))
    cat._replace_where(KEY, F.col("ts") >= at(30), new)  # noqa: SLF001
    rows = {r for r in rows if r[0] < at(30)}
    rows.update((at(h), "AB"[h % 2], h + 0.5) for h in range(30, 40))
    check(300)
