"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose the operator inventory from SURVEY.md §2 —
implementations live in ``marketstore_spark.queries``.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from marketstore_spark.queries import ORACLE_SQL, SPARK_QUERIES

_HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return SPARK_QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def evidence_order(keys: Iterable[str], root: str = _HERE) -> list[str]:
    """``keys`` ordered for the correctness driver, which checks a
    prefix of ``queries()`` per round: keys with no row in any
    ``CORRECTNESS_r<N>.json`` under ``root`` first, then the rest by the
    round of their newest row, oldest first; ties (and the no-files
    case) keep registration order.  A key whose code changed is not
    moved forward — new keys are, and tests/test_oracle_parity.py
    checks every oracle key locally.  An evidence file that does not
    parse raises."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path) as fh:
            for key in json.load(fh):
                newest[key] = max(newest.get(key, 0), rnd)
    return sorted(keys, key=lambda k: newest.get(k, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Driver order is derived from the evidence files next to this
    # module (evidence_order): never-checked keys, then stalest first.
    return {k: SPARK_QUERIES[k] for k in evidence_order(SPARK_QUERIES)}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
