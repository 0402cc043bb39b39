"""Runtime repeated-scan audit over the full query registry.

The printed (pre-AQE) plan shows each join branch's subtree separately
even when AQE will dedup it at runtime via ReusedExchange — and,
conversely, a plan that LOOKS shared can execute as independent scans
when filter pushdown or per-branch column pruning differentiates the
subtrees (ReusedExchange only dedups identical ones).  The only
trustworthy census is the FINAL adaptive plan after execution: this
tool runs every registered query at a small SF, walks the final plan,
and reports per-key (table → scan count) plus ReusedExchange counts.

Found in round 10 (all since fixed and plan-pinned):
- text_bigram_lift executed SIX documents scans (unigram aggregate,
  bigram aggregate, kept-word union ×2, bigram-space total);
- source_novelty and event_rfm each executed their fact twice (column
  pruning differentiated the two branches' exchanges).

Two-scan shapes that are CORRECT and stay: the broadcast-stats text
scores (bm25, doc_freq, unigram_nll, vocab_growth — scanning the
corpus twice with no shuffle beats shuffling it once through a
token-keyed exchange at 100 TB), the quote/trade composites
(lee_ready, effective_spread — semantically two tables), the
ANN/kmeans keys whose second scan is the QUERY/seed side of the same
embeddings table, and the decontamination keys whose second side is
the benchmark table (both derive from documents in the test harness).
The minhash family's two-branch build (banding keeps the mh minima,
verify keeps the shingle sets — per-branch column pruning makes the
subtrees canonically unequal, so no exchange reuse; the anchor trick
was tried and rejected: it forces each branch to do the union of the
work) is bounded by the query layer persisting the finished pair
table per (session, corpus) — the build runs once per corpus.

Usage:  python tools/audit_scans.py [--sf /root/testdata/sf0.01] [keys...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*", help="subset of registry keys")
    args = ap.parse_args()

    from marketstore_spark import get_session
    from marketstore_spark.queries import SPARK_QUERIES

    spark = get_session("audit-scans")
    spark.sparkContext.setLogLevel("ERROR")
    keys = args.keys or list(SPARK_QUERIES)
    flagged = 0
    for name in keys:
        try:
            df = SPARK_QUERIES[name](spark, args.sf)
            df.collect()
            final = (
                df._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]
            )
            cnt = Counter(re.findall(r"(\w+)\.parquet", final))
            multi = {t: c for t, c in cnt.items() if c > 1}
            reused = final.count("ReusedExchange")
            if multi:
                flagged += 1
                print(f"{name:40s} MULTI {dict(multi)} reused={reused}")
            else:
                print(f"{name:40s} ok    scans={dict(cnt)} reused={reused}")
        except Exception as exc:  # noqa: BLE001 — census must finish
            print(f"{name:40s} ERROR {str(exc)[:90]}")
    spark.stop()
    print(f"\n{flagged} key(s) with a table scanned more than once")
    return 0


if __name__ == "__main__":
    sys.exit(main())
