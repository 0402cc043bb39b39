"""Isolated min-of-N timer for a subset of registry keys (guide §1.4).

Usage: python tools/time_keys.py [--sf DIR] [--n 5] [--tag LABEL] key ...

Times each key with the noop sink in one session (bench methodology:
local[*], shuffle_partitions=8 by default, plan built fresh per rep so
the number includes neither Spark startup nor result transfer).  Prints
one line per key: tag key min median all-reps.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from marketstore_spark import get_session  # noqa: E402
from marketstore_spark.queries import SPARK_QUERIES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    ap.add_argument("--sp", type=int, default=8)
    ap.add_argument("--tag", default="run")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    spark = get_session("time-keys", master=f"local[{args.cpus}]", shuffle_partitions=args.sp)
    spark.sparkContext.setLogLevel("ERROR")
    # one warm-up of the first key so JIT/codegen caches are hot
    SPARK_QUERIES[args.keys[0]](spark, args.sf).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    for key in args.keys:
        fn = SPARK_QUERIES[key]
        # per-key untimed warm-up: later keys' min-of-N must not absorb
        # one-time codegen/broadcast warm-up the first key didn't touch
        # (ADVICE r13) — without this, cross-key comparisons in one
        # session are biased against whichever key runs first.
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        reps = []
        for _ in range(args.n):
            df = fn(spark, args.sf)
            spark.sparkContext.setJobDescription(f"{args.tag}:{key}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
            # bench methodology (bench.py:324): every timed run
            # re-materializes any query-layer persist in-region
            spark.catalog.clearCache()
        print(
            f"{args.tag} {key:32s} min={min(reps):.3f} med={statistics.median(reps):.3f} "
            f"all={[round(r, 3) for r in reps]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
