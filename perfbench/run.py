"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Everything the run writes (catalog
roots, Spark scratch, the event log) lives under ``.perfbench_run/``
and is deleted at the end; ``--trace 1`` leaves its per-layer side file
in ``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark runs on local[CORES] with as many shuffle partitions: one task at
#: a time.  On a shared host a stage of parallel tasks waits for its slowest
#: core, so local[2] runs spread more (README.md); the other cores stay free
#: for the Python process (client and RPC server threads), the JIT and the GC
CORES = 1
#: at most this many failed-op tracebacks go to stderr (all are counted)
MAX_LOGGED_FAILURES = 5


def _log(msg: str, t0: float | None = None) -> None:
    took = f" ({time.perf_counter() - t0:.2f} s)" if t0 is not None else ""
    print(f"perfbench: {msg}{took}", file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(run_dir: str, workload: str, trace: bool):
    from marketstore_spark.session import get_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    spark = get_session(
        app_name=f"perfbench-{workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_tracing(tracer) -> None:
    """Wrap the engine's public calls; spans are recorded only while an
    op runs with tracing enabled."""
    import threading

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    from marketstore_spark import msgpacklite, txn
    from marketstore_spark.catalog import Catalog
    from marketstore_spark.client import Client, DataSet, HttpClient
    from marketstore_spark.plans.sqlfront import MarketSQL
    from marketstore_spark.server import DataService
    from marketstore_spark.triggers import OnDiskAggTrigger

    for method in ("Query", "SQL", "Write", "GetInfo"):
        tracer.wrap(DataService, method, f"server.{method}")
    for method in ("query", "sql", "write", "get_info"):
        tracer.wrap(HttpClient, method, "client.rpc")

    def response_bytes(result, args, kwargs):
        if threading.current_thread() is threading.main_thread():
            tracer.count("server.response_bytes", len(args[0]))

    tracer.wrap(msgpacklite, "unpackb", "codec.unpack", after=response_bytes)
    tracer.wrap(Client, "query", "client.plan")
    tracer.wrap(DataSet, "df", "client.collect")
    tracer.wrap(MarketSQL, "sql", "sqlfront.plan")
    tracer.wrap(DataFrame, "toPandas", "spark.toPandas")
    tracer.wrap(Catalog, "read", "catalog.read")
    tracer.wrap(Catalog, "delete_range", "catalog.delete_range")

    def staged_bytes(result, args, kwargs):
        rels, bucket = result[0], args[1]
        tracer.count("txn.staged_bytes", sum(os.path.getsize(os.path.join(bucket, r)) for r in rels))

    tracer.wrap(txn, "stage_files", "txn.stage", after=staged_bytes)
    tracer.wrap(txn, "publish", "txn.publish")
    tracer.wrap(OnDiskAggTrigger, "fire", "trigger.fire")
    tracer.wrap(SparkSession, "createDataFrame", "spark.createDataFrame")
    tracer.count_warnings(
        "createDataFrame attempted Arrow optimization", "ingest.arrow_fallbacks"
    )


def _reads_total() -> float:
    from marketstore_spark.metrics import DEFAULT

    return DEFAULT.snapshot()["counters"].get("reads_total", 0.0)


def run_window(wl, seconds: float, tracer=None) -> tuple[list[dict], float]:
    """Run whole rounds of ops until ``seconds`` have passed.  With a
    tracer, every other round is traced."""
    records: list[dict] = []
    failures = 0
    rounds = wl.rounds()
    t_start = time.perf_counter()
    r = 0
    while time.perf_counter() - t_start < seconds:
        traced = tracer is not None and r % 2 == 0
        for op in next(rounds):
            rec = {"op": op, "ok": True, "traced": traced, "out": None}
            reads0 = _reads_total()
            with tracer.op(len(records)) if traced else nullcontext():
                w0 = time.time()
                t0 = time.perf_counter()
                try:
                    rec["out"] = wl.run(op)
                except Exception as exc:  # counted in failed / success_rate
                    rec["ok"] = False
                    rec["error"] = f"{type(exc).__name__}: {exc}"
                    failures += 1
                    if failures <= MAX_LOGGED_FAILURES:
                        traceback.print_exc(file=sys.stderr)
                rec["ms"] = (time.perf_counter() - t0) * 1e3
                rec["wall_ms"] = (w0 * 1e3, time.time() * 1e3)
            rec["reads"] = _reads_total() - reads0
            records.append(rec)
        r += 1
    return records, time.perf_counter() - t_start


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(wl, records, window_s, setup_times) -> dict[str, float]:
    ok_ms = [r["ms"] for r in records if r["ok"]]
    out = {
        "setup_s": statistics.median(setup_times),
        "op_p50_ms": statistics.median(ok_ms) if ok_ms else 0.0,
        "op_p90_ms": _p90(ok_ms),
        "ops_per_s": len(ok_ms) / window_s,
        "success_rate": len(ok_ms) / len(records),
    }
    out.update(wl.metrics(records, window_s))
    return out


def layer_metrics(tracer, records, spark_ops, files_per_bucket: float) -> dict[str, float]:
    """The per-layer table (see README.md).  Read-path and ``spark.*``
    numbers are means per traced op of the timed window; write-path
    numbers are means per traced write (the set-up's loads)."""
    traced = [r for r in records if r["traced"] and r["ok"]]
    plain = [r for r in records if not r["traced"] and r["ok"]]
    n = max(1, len(traced))
    ids = {i for i, r in enumerate(records) if r["traced"]}
    spans = tracer.closed_spans()
    ops = [s for s in spans if s["op"] in ids]
    loads = [s for s in spans if isinstance(s["op"], str)]
    selfs = tracer.self_times()
    by_id = {s["id"]: s for s in spans}

    def total(group, *names):
        return sum(s["end"] - s["start"] for s in group if s["name"] in names) * 1e3

    handlers = ("server.Query", "server.SQL", "server.Write", "server.GetInfo")
    writes = sum(1 for s in loads if s["name"] == "server.Write")
    w = max(1, writes)
    sql_collect = sum(
        s["end"] - s["start"]
        for s in ops
        if s["name"] == "spark.toPandas"
        and by_id.get(s["parent"], {}).get("name") == "server.SQL"
    ) * 1e3
    c = tracer.counters
    p50 = statistics.median([r["ms"] for r in traced]) if traced else 0.0
    p50_plain = statistics.median([r["ms"] for r in plain]) if plain else 0.0
    out = {
        "trace.op_p50_ms": p50,
        "trace.overhead_ms": p50 - p50_plain,
        "server.handler_ms": total(ops, *handlers) / n,
        "server.wire_ms": (total(ops, "client.rpc") - total(ops, *handlers)) / n,
        "server.encode_ms": sum(
            selfs[s["id"]] for s in ops if s["name"] in ("server.Query", "server.SQL")
        ) * 1e3 / n,
        "server.response_bytes": c["server.response_bytes"] / n,
        "client.plan_ms": total(ops, "client.plan") / n,
        "client.collect_ms": total(ops, "client.collect") / n,
        "sqlfront.plan_ms": total(ops, "sqlfront.plan") / n,
        "sqlfront.collect_ms": sql_collect / n,
        "catalog.read_ms": total(ops, "catalog.read") / n,
        "catalog.reads_per_op": sum(r["reads"] for r in traced) / n,
        "catalog.files_per_bucket": files_per_bucket,
        "catalog.delete_range_ms": total(loads, "catalog.delete_range") / w,
        "txn.stage_ms": total(loads, "txn.stage") / w,
        "txn.publish_ms": total(loads, "txn.publish") / w,
        "txn.write_amp": c["txn.staged_bytes"] / c["txn.user_bytes"] if c["txn.user_bytes"] else 0.0,
        "trigger.fire_ms": total(loads, "trigger.fire") / w,
        "trigger.share": total(loads, "trigger.fire") / total(loads, "server.Write") if writes else 0.0,
        "ingest.to_spark_ms": total(loads, "spark.createDataFrame") / w,
        "ingest.arrow_fallbacks": c["ingest.arrow_fallbacks"] / w,
        "analytics.build_ms": total(ops, "analytics.build") / n,
        "analytics.exec_ms": total(ops, "analytics.exec") / n,
    }
    traced_spark = [s for r, s in zip(records, spark_ops) if r["traced"] and r["ok"]]
    run_ms = sum(s["executor_run_ms"] for s in traced_spark)
    out.update(
        {
            "spark.jobs_per_op": sum(s["jobs"] for s in traced_spark) / n,
            "spark.stages_per_op": sum(s["stages"] for s in traced_spark) / n,
            "spark.tasks_per_op": sum(s["tasks"] for s in traced_spark) / n,
            "spark.executor_run_ms": run_ms / n,
            "spark.executor_cpu_ms": sum(s["executor_cpu_ms"] for s in traced_spark) / n,
            "spark.gc_ms": sum(s["gc_ms"] for s in traced_spark) / n,
            "spark.shuffle_bytes": sum(s["shuffle_write_bytes"] for s in traced_spark) / n,
            "spark.spill_bytes": sum(
                s["spill_disk_bytes"] + s["spill_memory_bytes"] for s in traced_spark
            ) / n,
            "spark.sched_floor_ms": (sum(r["ms"] for r in traced) - run_ms) / n,
        }
    )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "marketstore_spark")):
        print(f"perfbench: no marketstore_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from tracer import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    # Spark and pyspark scratch files stay inside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata

    tracer = Tracer() if args.trace else None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, args.workload, bool(args.trace))
        _log("session started", t0)
        wl = None
        try:
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, tracer)
            if tracer is not None:
                install_tracing(tracer)
            setup_times = []
            for rep in range(wl.reps):
                wl.trace_load = rep == wl.reps - 1
                if rep:
                    wl.discard()
                    shutil.rmtree(os.path.join(run_dir, f"rep{rep - 1}"))
                t0 = time.perf_counter()
                wl.setup(os.path.join(run_dir, f"rep{rep}"))
                setup_times.append(time.perf_counter() - t0)
                _log(f"set-up {rep}", t0)
            # a traced run times twice the window: half its rounds untraced
            seconds = args.seconds * (2 if tracer is not None else 1)
            records, window_s = run_window(wl, seconds, tracer)
            _log(f"timed window: {len(records)} ops in {window_s:.2f} s")
            t0 = time.perf_counter()
            errors = wl.check(records)
            _log("checks", t0)
            e2e = end_to_end(wl, records, window_s, setup_times)
            files_per_bucket = wl.files_per_bucket()
        finally:
            t0 = time.perf_counter()
            if wl is not None:
                wl.discard()
            stop_session(spark)
            _log("session stopped", t0)
        if tracer is not None:
            import eventlog

            tracer.uninstall()
            spark_ops = eventlog.per_op(
                os.path.join(run_dir, "eventlog"), [r["wall_ms"] for r in records]
            )
            layers = layer_metrics(tracer, records, spark_ops, files_per_bucket)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    failed = sum(1 for r in records if not r["ok"])
    # BENCHMARK.json names the metrics of the result line and their units;
    # a traced run's side file holds the whole per-layer table
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if tracer is not None:
        side = write_side_file(args, records, setup_times, e2e, layers, tracer, spark_ops)
        print(f"perfbench: per-layer side file {side}", file=sys.stderr)
        values, listed = layers, bench["per_layer"]
    else:
        values, listed = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": len(records),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if not errors else 1


def write_side_file(args, records, setup_times, e2e, layers, tracer, spark_ops) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds_per_half": args.seconds,
        "cores": CORES,
        "ops": {
            "traced": sum(r["traced"] for r in records),
            "untraced": sum(not r["traced"] for r in records),
            "failed": [r.get("error") for r in records if not r["ok"]],
        },
        "setup_s_reps": setup_times,
        "end_to_end_all_ops": e2e,
        "error_rate": 1.0 - e2e["success_rate"],
        "layers": layers,
        "span_summary": tracer.summary(),
        "spark_per_op": [
            {"op": i, "kind": r["op"].kind, "ms": r["ms"], **s}
            for i, (r, s) in enumerate(zip(records, spark_ops))
            if r["traced"]
        ],
        "spans": tracer.closed_spans(),
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
    return path


if __name__ == "__main__":
    sys.exit(main())
