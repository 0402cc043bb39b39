"""Hot-gram stress at 10⁶ sites: the posting-list bound, demonstrated.

VERDICT r09 item 1 flagged that a true boilerplate gram ("all rights
reserved …") can appear in 10⁸ documents at 100 TB, and an aggregation
buffer that collects the posting list BEFORE applying the
doc-frequency cap grows with corpus degree.  The r10 fix enforces the
cap pre-aggregation: shingles dedup row-side, a count window over the
shingle partition (spillable row container) computes doc frequency,
hot grams are filtered, and only then does collect_set build lists —
every buffer ≤ max_doc_freq.

This tool generates ONE MILLION documents sharing a 5-word boilerplate
prefix — three 3-grams with doc-frequency 1,000,000 each, three orders
of magnitude over the cap and 200× the sf1 sweep's 5k-site gram — plus
two true near-duplicates, and runs ngram_jaccard_pairs under a
deliberately small driver heap.  Pass criteria:

1. completes (the window group for each hot gram holds 10⁶ rows in a
   spillable container, never a hash-aggregate array);
2. the near-dup pair IS found (capped sets still score);
3. no boilerplate-driven pair survives (hot grams pruned).

Usage:  python tools/stress_hotgram.py [--docs 1000000] [--heap 3g]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--heap", default="3g")
    args = ap.parse_args(argv)

    from marketstore_spark import get_session
    from marketstore_spark.operators.dedup import ngram_jaccard_pairs

    spark = get_session(
        "hotgram-stress",
        extra_conf={"spark.driver.memory": args.heap},
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = args.docs
    boiler = "all rights reserved worldwide forever"
    # distributed generation — the corpus never materializes on the
    # driver: each doc is the shared 5-word boilerplate + 3 unique words
    from pyspark.sql import functions as F

    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit(boiler),
                F.concat(F.lit("u"), F.col("id")),
                F.concat(F.lit("v"), F.col("id")),
                F.concat(F.lit("w"), F.col("id")),
            ).alias("text"),
        )
    )
    twin = spark.createDataFrame(
        [
            (n + 1, "alpha beta gamma delta epsilon zeta"),
            (n + 2, "alpha beta gamma delta epsilon zeta"),
        ],
        ["doc_id", "text"],
    )
    corpus = docs.unionByName(twin)
    t0 = time.perf_counter()
    got = ngram_jaccard_pairs(
        corpus, n=3, threshold=0.8, max_doc_freq=1000
    ).collect()
    dt = time.perf_counter() - t0
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    ok_found = (n + 1, n + 2) in pairs
    ok_pruned = all(a > n for a, _ in pairs)
    print(
        f"docs={n + 2} hot_gram_sites={n} wall={dt:.1f}s "
        f"pairs={len(pairs)} neardup_found={ok_found} "
        f"boiler_pruned={ok_pruned}"
    )
    spark.stop()
    if not (ok_found and ok_pruned):
        print("FAIL")
        return 1
    print("PASS: 10^6-site hot gram pruned pre-aggregation within a "
          f"{args.heap} heap")
    return 0


if __name__ == "__main__":
    sys.exit(main())
