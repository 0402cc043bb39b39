"""Dump `.explain("formatted")` for bench headline queries (guide §1.1/§7.2).

Usage:
    python tools/plan_dump.py SUFFIX [name ...]

Writes plans/$PLAN_ROUND (default r14)/<query>_<SUFFIX>.txt for each named query (default: every
bench.HEADLINE key).  The dumps are regenerated on demand, never committed
(/plans/ is git-ignored).  Also prints a one-line plan-shape summary per query
(Exchange / Join strategy / Python-eval node counts) so regressions in plan
shape are greppable without opening each file.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from marketstore_spark import get_session  # noqa: E402
from marketstore_spark.queries import SPARK_QUERIES  # noqa: E402


def summarize(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "SMJ": len(re.findall(r"SortMergeJoin", plan)),
        "BHJ": len(re.findall(r"BroadcastHashJoin", plan)),
        "SHJ": len(re.findall(r"ShuffledHashJoin", plan)),
        "BNLJ": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "Window": len(re.findall(r"\bWindow\b", plan)),
        "PyEval": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow)", plan)),
        "Scan": len(re.findall(r"Scan parquet", plan)),
        "Expand": len(re.findall(r"\bExpand\b", plan)),
    }
    return " ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("PLAN_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session("plan-dump", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = SPARK_QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            print(f"{name:40s} ERROR {exc}")
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name:40s} {summarize(plan)}")
    spark.stop()


if __name__ == "__main__":
    main()
