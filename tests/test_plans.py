"""Plan-quality assertions (SURVEY §6): the optimizations the 100 TB
design depends on must be visible in .explain() — pushed filters,
pruned columns, broadcast joins, partition pruning.  A correct result
from a bad plan is a failure at scale.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from marketstore_spark.catalog import load_table
from marketstore_spark.queries import SPARK_QUERIES
from marketstore_spark.sources.parquet import (
    explain_str,
    read_bucket_store,
    write_bucket_store,
)


def test_range_filter_pushed_to_scan(spark, sf_dir):
    """query_range's ts predicate must reach the parquet scan."""
    plan = explain_str(SPARK_QUERIES["query_range"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThanOrEqual(ts" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must not read all columns."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    plan = explain_str(ev)
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, plan
    assert "props" not in m[0] and "event_type" not in m[0]


def test_multimodal_meta_prunes_payload(spark, sf_dir):
    """Metadata aggregation must not scan the text/payload bytes
    column... it is derived from text here, so the scan reads text but
    the point stands for the binary column in a real store: only
    referenced columns appear in ReadSchema."""
    plan = explain_str(SPARK_QUERIES["multimodal_meta"](spark, sf_dir))
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "lang" not in m[0] and "source" not in m[0]


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = explain_str(SPARK_QUERIES["q5_local_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # fact-side join should not broadcast the lineitem table
    assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 4


def test_q18_single_fact_scan_no_static_broadcast(spark, sf_dir):
    """q18's filtered keylist is an aggregate over the whole fact — its
    size grows linearly with data, so a static broadcast hint is an OOM
    at 100× scale.  The plan must carry no broadcast hint (AQE may
    still pick a runtime broadcast when the set is actually small), and
    the fact must be scanned exactly ONCE: the outer sum is the inner
    per-order sum, so a second lineitem scan would be pure waste."""
    df = SPARK_QUERIES["q18_large_volume_customer"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    assert "ResolvedHint" not in analyzed, analyzed[:2000]
    plan = explain_str(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_q2_takeordered_and_no_cartesian(spark, sf_dir):
    """q2: the correlated-min shape must plan dims as broadcasts, take
    the top-100 with TakeOrderedAndProject (not a global sort), and
    never degrade to a cartesian product."""
    plan = explain_str(SPARK_QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q9_broadcasts_dims_single_fact_join(spark, sf_dir):
    """q9: part/supplier/nation broadcast onto the lineitem scan; the
    only shuffle-worthy join is lineitem-orders on the order key."""
    plan = explain_str(SPARK_QUERIES["q9_product_type_profit"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q11_scalar_total_is_broadcast(spark, sf_dir):
    """q11: the global-total comparison joins a one-row aggregate via
    broadcast — the fact-side aggregate is computed once, never
    re-derived per row."""
    plan = explain_str(SPARK_QUERIES["q11_important_stock"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # val + tot branches each scan the 4 inputs once (the standard
    # scalar-subquery doubling, deduped by ReuseExchange at runtime) —
    # anything above 8 would mean a per-row or per-branch re-derivation
    assert plan.count("ReadSchema") <= 8


def test_q16_anti_join_not_subquery(spark, sf_dir):
    df = SPARK_QUERIES["q16_parts_supplier"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "LeftAnti" in optimized


def test_ann_filtered_predicate_reaches_scan(spark, sf_dir):
    """ann_filtered: the corpus metadata predicate must prune at the
    parquet scan, BEFORE any scoring work."""
    plan = explain_str(SPARK_QUERIES["ann_filtered"](spark, sf_dir))
    assert "PushedFilters" in plan and "label" in plan


def test_corpus_stats_single_shuffle(spark, sf_dir):
    """corpus_stats is one hash aggregate: partial map-side, one
    exchange on (lang, source), final merge."""
    import re

    plan = explain_str(SPARK_QUERIES["corpus_stats"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "HashAggregate" in plan


def test_skew_salted_agg_two_phase(spark, sf_dir):
    """The salted aggregation must shuffle twice — (key, salt) then
    key — with partial aggregation before each; and match the plain
    groupBy result exactly."""
    import re

    df = SPARK_QUERIES["skew_salted_agg"](spark, sf_dir)
    plan = explain_str(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    ev = load_table(spark, sf_dir, "events")
    plain = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["event_type"]: r["n_events"] for r in df.collect()}
    assert got == plain


def test_candler_single_shuffle(spark, sf_dir):
    """The candle aggregation must be one shuffle (partial → final),
    not a window-sort pipeline."""
    import re

    plan = explain_str(SPARK_QUERIES["tickcandler"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" not in plan
    # min_by/max_by on a struct order key is not hash-aggregable, so
    # Spark picks SortAggregate: still one shuffle, with the sort local
    # to each partition (fine at scale; the shuffle is the cost driver).
    assert "Aggregate" in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    """After AQE finalizes, the hot path must sit inside
    WholeStageCodegen spans with no Python eval nodes."""
    df = SPARK_QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # '*(N) ' prefixes mark operators fused into WholeStageCodegen spans
    assert "*(" in executed
    assert "BatchEvalPython" not in executed


def test_no_python_udfs_in_inventory_plans(spark, sf_dir):
    """Every oracle-backed query must stay JVM-side (Pandas UDFs are
    allowed only in multimodal decode, which is not oracle-backed),
    and no registered plan may degrade to a Cartesian product — a
    nested-loop cross of two fact-scale inputs is instant death at
    100 TB regardless of correctness (the intended cross joins are
    all one-row/dims-scale broadcast: BroadcastNestedLoopJoin)."""
    for name, fn in SPARK_QUERIES.items():
        plan = explain_str(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} uses a Python UDF"
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian"


def test_sessionize_reuses_window_shuffle(spark, sf_dir):
    """sessionize: hash-partitioning on user_id from the window must
    satisfy the (user_id, session_id) groupBy — exactly ONE exchange in
    the whole plan."""
    plan = (
        SPARK_QUERIES["sessionize"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_ivf_plan_broadcasts_probes_no_cartesian(spark, sf_dir):
    """ann_ivf: the probe side must broadcast (queries are small) and
    the candidate join must be keyed on list_id — never a cartesian."""
    from marketstore_spark.catalog import load_table as _lt
    from marketstore_spark.operators.simsearch import ivf_topk

    emb = _lt(spark, sf_dir, "embeddings")
    plan = explain_str(ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_partition_pruning_in_bucket_store(spark, sf_dir, tmp_path):
    """symbol/date-partitioned layout: a symbol+date filter must prune
    to a fraction of the partitions before reading."""
    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(str(tmp_path), "store")
    write_bucket_store(ev, root)
    store = read_bucket_store(spark, root)

    pruned = store.filter((F.col("symbol") == 1) & (F.col("date") == "2024-01-05"))
    plan = explain_str(pruned)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m, plan
    assert "symbol" in m[0] and "date" in m[0]

    # behavioral check: scanned file count shrinks
    total_parts = store.select("symbol", "date").distinct().count()
    touched = pruned.select("symbol", "date").distinct().count()
    assert touched <= 1 < total_parts


def test_bucket_store_roundtrip_values(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(str(tmp_path), "store")
    write_bucket_store(ev, root)
    store = read_bucket_store(spark, root)
    assert store.count() == ev.count()
    a = ev.agg(F.sum("event_id")).first()[0]
    b = store.agg(F.sum("event_id")).first()[0]
    assert a == b


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two facts bucketed on the join key must join with zero shuffle
    (the write-time bucketing IS the exchange, amortized)."""
    from marketstore_spark.sources.parquet import write_bucketed_table

    ev = load_table(spark, sf_dir, "events")
    write_bucketed_table(ev.select("event_id", "user_id", "ts", "value"),
                         "b_events", n_buckets=8, sort_cols=("user_id",))
    write_bucketed_table(
        ev.groupBy("user_id").agg(F.avg("value").alias("avg_v")),
        "b_stats", n_buckets=8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so the co-located merge join is visible
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_events").join(spark.table("b_stats"), "user_id")
        plan = explain_str(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # same key groupBy also rides the bucketing: no exchange
        g = spark.table("b_events").groupBy("user_id").agg(F.sum("value"))
        assert "Exchange" not in explain_str(g)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS b_events")
        spark.sql("DROP TABLE IF EXISTS b_stats")


def test_aqe_splits_skewed_join(spark, sf_dir):
    """SURVEY §6: a hot key must not serialize a join — AQE's skew-join
    split has to kick in (thresholds lowered so the test-size hot
    partition qualifies)."""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # 90% of 2M rows land on key 0 → one fat shuffle partition
        # (synthetic so the hot partition clears the lowered byte
        # threshold even after shuffle compression)
        big = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("tag")
        )
        j = big.join(dim, "k")
        j.collect()  # finalize THIS dataframe's adaptive plan
        executed = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "skew=true" in executed, executed[:2000]
        assert "skewed" in executed  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_index_store_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """Persisted IVF index: probing must turn into partition pruning on
    the list_id-partitioned corpus (PartitionFilters in the scan), and
    results must equal the ad-hoc ivf_topk with the same centroids."""
    from marketstore_spark.catalog import Catalog
    from marketstore_spark.operators.simsearch import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cat = Catalog(spark, os.path.join(str(tmp_path), "root"))
    centroids = build_ivf_index(cat, emb, nlist=8)
    queries = emb.filter(F.col("vec_id") < 5)

    got = ivf_topk_indexed(cat, queries, k=5, nprobe=2)
    plan = explain_str(got)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "list_id" in m[0], plan[:3000]

    want = ivf_topk(emb, queries, k=5, nprobe=2, nlist=8, centroids=centroids)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want.collect()}
    assert a == b and len(a) == 25


def test_q15_scalar_max_is_broadcast_not_collect(spark, sf_dir):
    """Q15's scalar-max subquery must compile to a broadcast join of
    the one-row max (decimal equality) — no driver collect, and the
    quarter filter reaches the lineitem scan."""
    plan = explain_str(SPARK_QUERIES["q15_top_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_q21_single_fact_pass(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS collapse into one per-order
    aggregation: one lineitem scan, no anti/semi join on the fact, no
    cartesian; the per-order groupBy reuses the join's order-key
    partitioning (no exchange between them); top-20 via
    TakeOrderedAndProject, not a global sort."""
    plan = explain_str(
        SPARK_QUERIES["q21_suppliers_who_kept_orders_waiting"](spark, sf_dir)
    )
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q20_no_cartesian_two_fact_scans(spark, sf_dir):
    """q20: the 1997 and all-time quantity aggregates each scan
    lineitem once (different pushed filters — no third scan may
    appear), dims broadcast, and the nested-subquery shape must not
    degrade to a cartesian product.  The threshold join itself is
    left to AQE: at test SF the tiny aggregate broadcasts; at scale
    both sides group on (suppkey, partkey), so the non-broadcast
    fallback is already co-partitioned."""
    plan = explain_str(SPARK_QUERIES["q20_potential_promotion"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 2, plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_corpus_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """Decontamination must broadcast the benchmark shingle set — the
    corpus-side shingle stream may never shuffle for the join (the only
    exchanges are word_shingles' spread repartitions and the final
    per-doc count)."""
    import re

    plan = explain_str(SPARK_QUERIES["corpus_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: the corpus shingles go scan → project
    # → broadcast-probe → partial count
    assert "SortMergeJoin" not in plan


def test_corpus_sample_is_pure_filter(spark, sf_dir):
    """hash_sample is a filter — zero exchanges, zero aggregates; the
    md5 predicate evaluates inside the scan's WholeStageCodegen."""
    import re

    plan = explain_str(SPARK_QUERIES["corpus_sample"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "HashAggregate" not in plan


def test_text_repetition_no_join_single_scan(spark, sf_dir):
    """All repetition signals are per-row HOFs: one documents scan, no
    join, no aggregate — the only admissible exchange is the
    parallelism-spread repartition, and the size gate
    (functions/layout) elides even that on a tiny input."""
    import re

    plan = explain_str(SPARK_QUERIES["text_repetition"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan and "HashAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_twap_single_shuffle_single_scan(spark, sf_dir):
    """twap: the interval-weight window and the bucket aggregation
    share one exchange on (symbol, bucket); one events scan."""
    import re

    plan = explain_str(SPARK_QUERIES["twap"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert plan.count("events.parquet") == 1


def test_obv_single_sort_per_symbol(spark, sf_dir):
    """OBV's lag and running sum share one (symbol, ts, id) sort: the
    plan must contain exactly ONE exchange and ONE sort — a second of
    either means the windows didn't share their ordering."""
    plan = explain_str(SPARK_QUERIES["obv"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_stochastic_windows_share_sort(spark, sf_dir):
    """%K's rolling frame, the row counter, and %D's lags all order by
    the same key — one exchange, one sort (the %D pass runs over the
    original attributes; renaming first would break reuse)."""
    plan = explain_str(SPARK_QUERIES["stochastic_k"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_dedup_span_fixed_width_aggregate_no_joins(spark, sf_dir):
    """Span dedup is exact_dedup at span grain: explode → ONE hash
    aggregate on the md5 key.  No join anywhere (posting lists and
    pair generation would be wrong-shape here), and the scan reads
    only doc_id + text."""
    plan = explain_str(SPARK_QUERIES["dedup_span"](spark, sf_dir))
    assert "Join" not in plan, plan
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "lang" not in m[0] and "source" not in m[0]


def test_gapfill_interp_never_shuffles_grid(spark, sf_dir):
    """The dense grid is generated AFTER the window pass: exchanges
    move only bucketed rows (bucket agg + window), never the exploded
    grid — the Generate must be downstream of every Exchange."""
    plan = explain_str(SPARK_QUERIES["gapfill_interp"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    ops = re.findall(r"\((\d+)\) (Exchange|Generate)", plan)
    gen_ids = [int(n) for n, op in ops if op == "Generate"]
    ex_ids = [int(n) for n, op in ops if op == "Exchange"]
    assert gen_ids and ex_ids
    # higher operator id = later in the plan (closer to the result)
    assert min(gen_ids) > max(ex_ids), plan


def test_corpus_pack_single_shard_shuffle(spark, sf_dir):
    """Packing shuffles once on the shard key into the partition-
    streaming mapInPandas recurrence (one shard-hash exchange, one
    within-partition sort — the EMA fold shape, so a shard of any size
    packs without the one-Arrow-batch limit)."""
    plan = explain_str(SPARK_QUERIES["corpus_pack"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_cms_single_aggregate_broadcast_probe(spark, sf_dir):
    """The sketch is ONE hash aggregate (bounded depth·width state) and
    the candidate probe joins it via broadcast — no sort-merge join,
    no Expand."""
    plan = explain_str(SPARK_QUERIES["text_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Expand" not in plan, plan


def test_hll_no_expand_single_pass(spark, sf_dir):
    """approx_count_distinct + count in one groupBy must NOT plan an
    Expand (the count_distinct row-blowup) — the HLL buffer aggregates
    in a single pass."""
    plan = explain_str(SPARK_QUERIES["distinct_users_approx"](spark, sf_dir))
    assert "Expand" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_beta_market_aggregate_broadcast(spark, sf_dir):
    """beta's per-bucket market table is dimension-sized and must come
    back via broadcast; nothing in the plan is a cartesian product."""
    plan = explain_str(SPARK_QUERIES["beta"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_realized_vol_shares_symbol_sort(spark, sf_dir):
    """The lag and both rolling sums ride the per-symbol sort; the only
    exchanges are the bucket-close extraction and the symbol window."""
    plan = explain_str(SPARK_QUERIES["realized_vol"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_adjust_never_shuffles_prices(spark, sf_dir):
    """Corporate actions are dims-scale; the price stream must not
    shuffle or sort for them.  The plan is scan → BroadcastHashJoin →
    project: the ONLY shuffle Exchange is the CA-side aggregate, and
    there is no Window/Sort anywhere (the old union-window formulation
    sorted the entire fact)."""
    for key in ("uda_adjust", "uda_adjust_ca"):
        plan = explain_str(SPARK_QUERIES[key](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert len(re.findall(r"\(\d+\) Sort", plan)) == 0, plan
        assert "Window" not in plan, plan


def test_atr_candle_agg_plus_shared_symbol_sort(spark, sf_dir):
    """ATR: one exchange for the candle aggregate (with MAP-SIDE
    partials — the shuffle carries candles, not ticks) and one for the
    symbol window, whose lag/rolling-sum/row-counter share one sort."""
    plan = explain_str(SPARK_QUERIES["atr"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert "partial_max" in plan, plan
    assert "Join" not in plan, plan


def test_donchian_candle_agg_plus_shared_symbol_sort(spark, sf_dir):
    """Donchian: same two-exchange shape as ATR; both rolling extrema
    and the row counter ride one per-symbol sort."""
    plan = explain_str(SPARK_QUERIES["donchian"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_xs_momentum_linear_three_stage(spark, sf_dir):
    """Cross-sectional rank needs the bucket-close shuffle, the symbol
    window, and the per-bucket rank — three exchanges, nothing
    quadratic, no join."""
    plan = explain_str(SPARK_QUERIES["xs_momentum"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert "Join" not in plan, plan


def test_corpus_chunk_pure_projection(spark, sf_dir):
    """Chunking is split→sequence→explode→slice per row: no shuffle,
    no join, and the scan reads only doc_id + text."""
    plan = explain_str(SPARK_QUERIES["corpus_chunk"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "Join" not in plan, plan
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "lang" not in m[0] and "n_chars" not in m[0]


def test_corpus_sample_stratified_pure_filter(spark, sf_dir):
    """The per-stratum rate table compiles into the filter as a CASE —
    a pure filter+project plan with no join and no shuffle."""
    plan = explain_str(SPARK_QUERIES["corpus_sample_stratified"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "Join" not in plan, plan


def test_doc_freq_score_wordcount_join_no_cartesian(spark, sf_dir):
    """The unigram score is wordcount + an equi-join on term + one
    doc fold: hash aggregates and a hash join only — never a sort-less
    cartesian, never a fact broadcast of the token stream."""
    plan = explain_str(SPARK_QUERIES["text_doc_freq_score"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


def test_dedup_semantic_broadcast_seeds_blocked_pairs(spark, sf_dir):
    """Semantic dedup: the seed table joins via broadcast nested loop
    (dimension-sized cross join — the corpus side never shuffles for
    assignment), pair generation runs in the block-pair pandas stage,
    and nothing plans a non-broadcast cartesian over the corpus."""
    plan = explain_str(SPARK_QUERIES["dedup_semantic"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_ema_macd_partition_streaming_fold(spark, sf_dir):
    """The EMA family folds in ONE mapInPandas pass over key-hashed,
    partition-sorted data: one exchange, one sort, a MapInPandas node —
    and no per-group FlatMapGroupsInPandas (whose per-key Python
    invocation dominated the fold ~5× at sf0.1)."""
    for key in ("ema", "macd"):
        plan = explain_str(SPARK_QUERIES[key](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
        assert "MapInPandas" in plan, plan
        assert "FlatMapGroupsInPandas" not in plan, plan


def test_corpus_training_mix_single_shuffle_chain(spark, sf_dir):
    """The composed mix→chunk→pack pipeline must stay one linear plan:
    the ONLY exchange is the shard hash into the packing fold — the
    sample is a pure filter and the chunk explode is a pure projection
    (no join anywhere, lang is carried, never re-joined)."""
    plan = explain_str(SPARK_QUERIES["corpus_training_mix"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert plan.count("documents.parquet") == 1, plan


def test_tick_rule_windows_share_one_sort(spark, sf_dir):
    """The lag, the ignorenulls-last carry, and the running sum all
    order by (symbol, ts, id) over the original column names — ONE
    exchange and ONE sort, exactly like obv."""
    plan = explain_str(SPARK_QUERIES["tick_rule"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan


def test_nbbo_two_rollup_aggregates_no_joins(spark, sf_dir):
    """NBBO is two grouping levels — (symbol, venue, bucket) last-quote
    pick, then the (symbol, bucket) venue rollup: exactly two shuffle
    exchanges, and no join anywhere (the oracle's attribution joins
    are the SQL reconstruction, not the plan).  Struct-ordered min/max
    forces SortAggregate; the sorts are per-task, pre-partial-agg —
    bounded by task input, never a global sort."""
    plan = explain_str(SPARK_QUERIES["nbbo"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_bm25_corpus_never_shuffled(spark, sf_dir):
    """BM25's only shuffle is the single-partition reduce of the
    1-row corpus stats (N, Σdl, per-term df); the stats row comes back
    via BroadcastNestedLoopJoin and scoring is a pure projection —
    the corpus itself never repartitions, and the scan reads only
    doc_id + text."""
    plan = explain_str(SPARK_QUERIES["text_bm25"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "SinglePartition" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "lang" not in m[0] and "source" not in m[0], m


def test_knn_label_eval_one_shuffle_mapside_topk(spark, sf_dir):
    """The query slice is collected at plan build and scored in ONE
    vectorized Arrow hop (no join of any kind); WindowGroupLimit
    prunes each task to its local top-k BEFORE the one exchange (only
    k rows per query cross the wire); the vote aggregates reuse the
    window's query_id partitioning — exactly ONE shuffle end to end,
    ONE corpus scan, and no join anywhere."""
    plan = explain_str(SPARK_QUERIES["knn_label_eval"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("embeddings.parquet") == 1, plan


def test_rollup_cascade_one_scan_candle_first(spark, sf_dir):
    """All five rollup levels in one linear chain: the fact is scanned
    ONCE and crosses the partial aggregate ONCE (into 5Min candles);
    Expand replicates only the CANDLE rows into per-level
    re-aggregation (one more candle-scale exchange).  The Expand must
    sit ABOVE the first exchange — an Expand below it would mean the
    tick stream is being replicated per level again (a union of five
    aggregates would rescan the fact five times — exchange reuse does
    not fire across union branches)."""
    df = SPARK_QUERIES["rollup_cascade"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    ex = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert ex.count("FileScan") == 1, ex
    assert ex.count("Expand") == 1, ex
    assert ex.count("Exchange hashpartitioning") == 2, ex
    # Expand above the tick exchange: the plan string lists operators
    # top-down, so the Expand must appear BEFORE (shallower than) the
    # bottom tick-partial exchange and AFTER the candle exchange
    first_expand = ex.index("Expand")
    tick_exchange = ex.rindex("Exchange hashpartitioning")
    assert first_expand < tick_exchange, ex


def test_corpus_shuffle_one_shuffle_one_sort(spark, sf_dir):
    """The training shuffle is ONE hash exchange on shard + ONE
    per-shard sort (position assignment) — no joins, no global sort,
    and the scan reads only the id column."""
    plan = explain_str(SPARK_QUERIES["corpus_shuffle"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "text" not in m[0], m


def test_lee_ready_no_join_blowup(spark, sf_dir):
    """The prevailing-quote attach is the as-of UNION-window plan, not
    a pair join: no Join node anywhere, and the whole classification
    costs two exchanges (the as-of union's and the quote-dedup's) —
    the tick-test windows reuse the trade-side sort."""
    plan = explain_str(SPARK_QUERIES["lee_ready"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_volume_bars_single_exchange(spark, sf_dir):
    """Event bars: the cumulative-sum window repartitions on symbol
    ONCE; the (symbol, bar_id) candle aggregate must REUSE that
    partitioning (HashPartitioning(symbol) satisfies the clustered
    distribution on the superset key) — a second exchange would
    re-shuffle the whole tick stream."""
    for key in ("volume_bars", "dollar_bars"):
        plan = explain_str(SPARK_QUERIES[key](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
        # window sort + the SortAggregate's in-partition sort (struct
        # min_by/max_by buffers demote to SortAggregate) — both ride
        # the single exchange
        assert len(re.findall(r"\(\d+\) Sort\b", plan)) <= 2, plan
        assert "Join" not in plan, plan


def test_kmeans_assign_no_shuffle_no_join(spark, sf_dir):
    """The E-step scores against the closure-shipped centroid matrix
    inside one vectorized Arrow hop — the corpus must not join, sort,
    aggregate or shuffle AT ALL (plan: scan → project → MapInPandas)."""
    plan = explain_str(SPARK_QUERIES["embedding_kmeans_assign"](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0, plan


def test_rolling_corr_market_single_fact_scan(spark, sf_dir):
    """The market index is a full-partition window over the dims-scale
    closes — NOT a groupBy + self-join, which would scan and shuffle
    the fact twice (ReusedExchange does not fire across join
    branches).  One FileScan, no joins; all five rolling sums share
    one per-symbol sort."""
    df = SPARK_QUERIES["rolling_corr_market"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    df.write.format("noop").mode("overwrite").save()
    ex = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert ex.count("FileScan") == 1, ex


def test_bigram_lift_broadcast_pruned_unigrams(spark, sf_dir):
    """The vocabulary-scale unigram table must NOT broadcast raw: it is
    first semi-join-pruned (LeftSemi against the kept-pair word set,
    collocation-scale) and only the pruned slice broadcasts onto the
    bigram counts (twice).  No sort-merge join anywhere; the final
    top-k window sorts only the filtered pair table."""
    plan = explain_str(SPARK_QUERIES["text_bigram_lift"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    # one semi prune + two lookup joins, all broadcast
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    # every BroadcastExchange input must sit DOWNSTREAM of either the
    # semi prune or a filter/aggregate — i.e. the raw unigram count
    # aggregate may not feed a BroadcastExchange directly.  The
    # LeftSemi assertions above plus join count pin this; also assert
    # the pruned lineage exists at all (the kept-pair word set is one
    # explode over array(w1, w2) — r10 replaced the two-branch Union,
    # which consumed the pair table twice).
    assert re.search(r"explode\(array\(w1", plan), plan
    assert "Union" not in plan, plan


def test_length_buckets_projection_only(spark, sf_dir):
    """Length bucketing is wordcount-shaped: one exchange (the bucket
    aggregate with map-side partials), no joins, no windows."""
    plan = explain_str(SPARK_QUERIES["corpus_length_buckets"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_ofi_one_venue_sort_one_bucket_agg(spark, sf_dir):
    """OFI: one per-(symbol, venue) window sort, one (symbol, bucket)
    hash aggregate — two exchanges total, no joins."""
    plan = explain_str(SPARK_QUERIES["ofi"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_roll_spread_autocorr_single_sort_no_join(spark, sf_dir):
    """roll_spread / autocorr_returns: bucket-close shuffle + one
    per-symbol window (all close lags in ONE Window node — a lag of a
    computed lag would chain two WindowExec passes) + a symbol
    aggregate reusing that partitioning.  Two exchanges, no joins."""
    for key in ("roll_spread", "autocorr_returns"):
        plan = explain_str(SPARK_QUERIES[key](spark, sf_dir))
        assert "Join" not in plan, (key, plan)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, (key, plan)
        # ONE lag window (all three close lags in it, not chained);
        # the close pick is a map-side-combinable aggregate, so the
        # bucket exchange carries partial candles, not ticks
        assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, (key, plan)
        assert "partial_max_by" in plan, (key, plan)


def test_variance_ratio_shared_lag_window(spark, sf_dir):
    """lag(1) and lag(q) share one Window node and one per-symbol
    sort; the moment aggregate reuses the partitioning."""
    plan = explain_str(SPARK_QUERIES["variance_ratio"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "partial_max_by" in plan, plan


def test_kyle_lambda_one_exchange(spark, sf_dir):
    """The tick-rule sign derivation, the (symbol, bucket) aggregate,
    the close-lag window, and the final symbol aggregate all ride the
    ONE symbol hash partitioning — a single Exchange, no joins."""
    plan = explain_str(SPARK_QUERIES["kyle_lambda"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_vpin_one_exchange_ratio_of_sums(spark, sf_dir):
    """VPIN: tick sort, volume bucketing, per-bucket aggregate and the
    trailing windows share one symbol Exchange; no joins anywhere."""
    plan = explain_str(SPARK_QUERIES["vpin"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_lexical_diversity_projection_only(spark, sf_dir):
    """Per-doc HOFs only: no joins, no windows, no aggregate exchange
    (the only permissible Exchange is the size-gated narrow-work
    spread, which is a round-robin repartition, not a shuffle forced
    by the operator's semantics)."""
    plan = explain_str(SPARK_QUERIES["text_lexical_diversity"](spark, sf_dir))
    assert "Join" not in plan and not re.search(r"\(\d+\) Window\b", plan), plan
    assert "HashAggregate" not in plan, plan


def test_markout_single_scan_no_join(spark, sf_dir):
    """The future close attaches via the RANGE window over the bucket
    epoch — NOT a closes-groupBy joined back, which would scan and
    shuffle the fact twice (ReusedExchange does not fire across join
    branches).  One FileScan, one Exchange, zero joins."""
    df = SPARK_QUERIES["markout_returns"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_intraday_seasonality_one_exchange(spark, sf_dir):
    """One tick sort for the move lag; the (symbol, hour) aggregate
    reuses the symbol partitioning — one Exchange, no joins."""
    plan = explain_str(SPARK_QUERIES["intraday_seasonality"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_dup_size_histogram_two_hash_aggs(spark, sf_dir):
    """Second-order wordcount: two combiner-friendly hash aggregates,
    no windows or joins; the second shuffle is over the already
    content-distinct table."""
    plan = explain_str(SPARK_QUERIES["corpus_dup_size_histogram"](spark, sf_dir))
    assert "Join" not in plan and not re.search(r"\(\d+\) Window\b", plan), plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert "partial" in plan.lower(), plan


def test_filter_funnel_single_row_reduce(spark, sf_dir):
    """The funnel is one scan reduced to a single row: a partial
    aggregate, one SinglePartition exchange, no joins/windows."""
    plan = explain_str(SPARK_QUERIES["corpus_filter_funnel"](spark, sf_dir))
    assert "Join" not in plan and not re.search(r"\(\d+\) Window\b", plan), plan
    assert "SinglePartition" in plan, plan
    assert "partial" in plan.lower(), plan


def test_range_vol_one_candle_exchange_projection_out(spark, sf_dir):
    """Range-vol estimators: ONE exchange (the map-side-combinable
    candle aggregate), then a pure projection — no window, no join;
    at 100 TB the shuffle carries bars, not ticks."""
    plan = explain_str(SPARK_QUERIES["range_vol"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "partial_max_by" in plan, plan


def test_corwin_schultz_two_exchanges_one_window(spark, sf_dir):
    """Corwin-Schultz: candle shuffle (h/l hash aggregate, map-side
    partials) + one per-symbol Window for BOTH lags — two exchanges,
    one window sort, no joins."""
    plan = explain_str(SPARK_QUERIES["corwin_schultz"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_kaufman_er_shared_sort_two_window_passes(spark, sf_dir):
    """Kaufman ER: the |move| column must materialize before the frame
    sum (window-in-window is illegal), so the plan carries TWO Window
    nodes — but they share one spec, so ONE window sort and two
    exchanges total (close shuffle + symbol sort), no joins."""
    plan = explain_str(SPARK_QUERIES["kaufman_er"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert "partial_max_by" in plan, plan


def test_source_token_jaccard_no_cartesian_bounded_fanout(spark, sf_dir):
    """The vocabulary intersection is a keyed equi-join on token
    (fan-out bounded by sources² per token) — never a cartesian /
    nested-loop — and the per-source sizes broadcast onto the pair
    counts."""
    plan = explain_str(SPARK_QUERIES["source_token_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_source_token_stats_wordcount_shape(spark, sf_dir):
    """Per-source vocabulary profile: wordcount — (source, token)
    hash count with map-side partials, then a #sources-row aggregate.
    Two exchanges, no joins, no windows."""
    plan = explain_str(SPARK_QUERIES["source_token_stats"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert "partial" in plan.lower(), plan


def test_vocab_growth_bin_scale_after_explode(spark, sf_dir):
    """Heaps curve: the only corpus-scale stage is the explode into
    the (source, token) min-id aggregate (map-side combinable); the
    join and the cumulative window run on BIN-scale rows.  No
    cartesian, one Window."""
    plan = explain_str(SPARK_QUERIES["corpus_vocab_growth"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "partial_min" in plan or "partial" in plan.lower(), plan


def test_kmeans_update_corpus_never_shuffles(spark, sf_dir):
    """The M-step's argmax AND the per-batch partial sums happen
    inside one vectorized Arrow hop (no vec_id aggregate — the
    crossJoin+max_by formulation would shuffle one row per vector
    WITH its embedding); the ONLY exchange is the k·d (cluster, dim)
    hash aggregate over the batch partials — dims-scale."""
    plan = explain_str(SPARK_QUERIES["embedding_kmeans_update"](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial_max_by" not in plan, plan  # no per-vector argmax agg
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "partial_sum" in plan, plan  # map-side combinable partials


def test_realized_moments_one_exchange(spark, sf_dir):
    """The in-bucket move lag and the moment aggregate share ONE
    (symbol, bucket) exchange — the window's partitioning satisfies
    the groupBy; no joins."""
    plan = explain_str(SPARK_QUERIES["realized_moments"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_benchmark_coverage_corpus_never_shuffles(spark, sf_dir):
    """Eval-side coverage: the benchmark shingle table broadcasts into
    the corpus shingle stream (corpus side distinct=False — no corpus
    shuffle); only matched rows reach the dedupe/count exchanges.  No
    sort-merge join anywhere."""
    plan = explain_str(SPARK_QUERIES["corpus_benchmark_coverage"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_trimmed_mean_one_exchange(spark, sf_dir):
    """Rank window, partition count, and the kept aggregate share ONE
    (symbol, bucket) exchange; no joins."""
    plan = explain_str(SPARK_QUERIES["trimmed_mean"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_mfi_one_candle_shuffle_one_sort(spark, sf_dir):
    """MFI: one candle exchange (map-side partials incl. volume), one
    per-symbol window exchange; the direction lag, both rolling sums,
    and the counter share the sort.  No joins."""
    plan = explain_str(SPARK_QUERIES["mfi"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_fixed_n_sample_take_ordered_not_global_sort(spark, sf_dir):
    """Exactly-n sampling must plan as TakeOrderedAndProject (local
    top-n per partition + merge), never a global Sort."""
    plan = explain_str(SPARK_QUERIES["corpus_sample_fixed_n"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan or "rangepartitioning" not in plan.lower(), plan


def test_cci_one_candle_shuffle_shared_sort(spark, sf_dir):
    """CCI: candle exchange + one per-symbol window exchange; the
    window sum, the n-int array collect, and the counter share the
    sort; the deviation fold is a per-row HOF.  No joins."""
    plan = explain_str(SPARK_QUERIES["cci"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_aroon_shared_sort_no_join(spark, sf_dir):
    """Aroon: candle exchange + one per-symbol window exchange; the
    counter and both frame argmaxes share the sort."""
    plan = explain_str(SPARK_QUERIES["aroon"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_adx_single_fold_pass(spark, sf_dir):
    """ADX: candle exchange + ONE symbol repartition feeding the
    partition-streaming fold (the ema/macd shape) — a MapInPandas
    node, two exchanges, no joins."""
    plan = explain_str(SPARK_QUERIES["adx"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_volume_profile_wordcount_then_level_scale(spark, sf_dir):
    """Volume profile: the tick-scale work is ONE (symbol, bucket,
    level) combiner-friendly aggregate; the POC rollup and the
    profile join run on level-scale rows.  No cartesian, no window
    on the fact."""
    plan = explain_str(SPARK_QUERIES["volume_profile"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan or "partial" in plan.lower(), plan
    ex = explain_str(SPARK_QUERIES["volume_profile"](spark, sf_dir))
    assert ex.count("events.parquet") == 1, ex


def test_unigram_nll_single_scalar_broadcast(spark, sf_dir):
    """Unigram NLL: the token-total scalar joins as a one-row
    broadcast (bm25 pattern), the vocabulary join is keyed on token —
    no cartesian of anything fact-scale, no window."""
    plan = explain_str(SPARK_QUERIES["corpus_unigram_nll"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the one-row scalar
    assert "Window" not in plan, plan


def test_registry_hygiene_window_and_oracles():
    """Every registered query must have an oracle unless it is in the
    documented rows-only allowlist (approx sketches / LSH — each
    anchored by an exact driver-green sibling)."""
    from marketstore_spark.queries import ORACLE_SQL, SPARK_QUERIES

    no_oracle = set(SPARK_QUERIES) - set(ORACLE_SQL)
    assert no_oracle == {
        "ann_ivf",
        "ann_ivfpq",
        "ann_lsh",
        "ann_pq",
        "dedup_embedding_lsh",
        "distinct_users_approx",
        "percentiles_approx",
    }, f"undocumented no-oracle keys: {sorted(no_oracle)}"


def test_ngram_pairs_hot_gram_pruned_before_collect(spark, sf_dir):
    """The hot-shingle cap must act BEFORE any posting list exists
    (VERDICT r09 item 1): the plan carries a count window over the
    shingle partition feeding a Filter, and only then the collect_set
    aggregate — so no aggregation buffer is ever corpus-degree-sized
    (WindowExec's row container spills; a hash-aggregate array
    doesn't).  The groupBy reuses the window's hash partitioning: the
    gram table still shuffles once."""
    import re

    for key in ("dedup_ngram_jaccard", "dedup_containment"):
        plan = explain_str(SPARK_QUERIES[key](spark, sf_dir))
        assert "Window" in plan, plan
        # the doc-frequency filter sits between the window and the
        # posting-list aggregate
        assert "__df" in plan, plan
        assert "collect_set" in plan, plan
        # structural pin: the posting-list aggregate consumes the
        # window's output DIRECTLY (Filter+Project only in between) —
        # no Exchange, so the groupBy(shingle) reuses the window's
        # hash partitioning and the gram table shuffles once per
        # subtree.  (The sizes/inter consumers print the subtree
        # repeatedly pre-AQE; at runtime ReusedExchange dedups it —
        # the pinned minhash precedent.)
        assert re.search(
            r"ObjectHashAggregate \(\d+\)\n"
            r"[\s:]*\+- Project \(\d+\)\n"
            r"[\s:]*\+- Filter \(\d+\)\n"
            r"[\s:]*\+- Window \(\d+\)",
            plan,
        ), plan
        # every gram-table exchange is the window's (one per printed
        # subtree): shingle-keyed exchanges == documents scans
        assert plan.count("hashpartitioning(shingle") == plan.count(
            "documents.parquet"
        ), plan


def test_source_novelty_and_rfm_single_scan(spark, sf_dir):
    """r10 re-plans: source_novelty's first-occurrence credit rides a
    shingle-partition window (not a second gram aggregate), and
    event_rfm's recency anchor is a window max over the user-grain
    rows (not an agg-of-agg crossJoin) — each plan scans its fact
    exactly once.  The old two-branch forms never got ReusedExchange
    (column pruning differentiates the branches), i.e. two full fact
    reads at 100 TB."""
    plan = explain_str(SPARK_QUERIES["source_novelty"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan
    plan = explain_str(SPARK_QUERIES["event_rfm"](spark, sf_dir))
    assert plan.count("events.parquet") == 1, plan
    assert "Join" not in plan, plan


def test_bigram_lift_single_scan_runtime(spark, sf_dir):
    """r10 re-plan: unigram and bigram counts come from ONE combined
    explode into ONE (a, b) conditional-count aggregate; every
    consumer (kept pairs, kept-word set, pruned vocabulary, corpus
    totals) shares that exchange via ReusedExchange.  Runtime check —
    the printed pre-AQE plan shows the subtree repeatedly, so this
    test EXECUTES and asserts the final adaptive plan reads documents
    once (the old form read it six times)."""
    df = SPARK_QUERIES["text_bigram_lift"](spark, sf_dir)
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("documents.parquet") == 1, final
    assert final.count("ReusedExchange") >= 3, final


def test_registry_evidence_staleness_bound():
    """Driver-evidence freshness insurance (VERDICT r09 item 8): every
    registered key must either have driver correctness evidence from
    within the last 3 completed rounds or sit inside the upcoming
    50-key driver window (the head of ``__spark_entry__.queries()``).
    Goes red when a backlog like round 9's 38 r5-stale keys
    accumulates beyond what one window can refresh.  An evidence file
    that does not parse fails the test."""
    import glob
    import json
    import os

    import __spark_entry__

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no driver correctness records yet")
    newest: dict[str, int] = {}
    for f in files:
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        with open(f) as fh:
            keys = json.load(fh)
        for k in keys:
            newest[k] = max(newest.get(k, 0), rnd)
    current = max(
        int(f.rsplit("_r", 1)[1].split(".")[0]) for f in files
    )
    window = set(list(__spark_entry__.queries())[:50])
    stale = sorted(
        k
        for k in SPARK_QUERIES
        if newest.get(k, 0) < current - 3 and k not in window
    )
    assert not stale, (
        f"keys with driver evidence older than r{current - 3} and not "
        f"inside the next driver window: {stale}"
    )


def test_evidence_order(tmp_path):
    """The driver order derived from CORRECTNESS_r*.json: never-checked
    keys first, then oldest newest-evidence first, registration order
    on ties and when no evidence file exists; a file that does not
    parse raises."""
    import json

    from __spark_entry__ import evidence_order

    keys = ["a", "b", "c", "d", "e", "f"]
    assert evidence_order(keys, str(tmp_path)) == keys
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({k: {} for k in ("a", "b", "c", "d")})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": {}, "c": {}}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"b": {}}))
    # e, f unchecked; d newest r1; a, c newest r2 (tie); b newest r10
    # (r10 sorts numerically after r02)
    assert evidence_order(keys, str(tmp_path)) == ["e", "f", "d", "a", "c", "b"]
    (tmp_path / "CORRECTNESS_r11.json").write_text('{"a": ')
    with pytest.raises(ValueError):
        evidence_order(keys, str(tmp_path))


def test_liquidity_panel_one_scan_two_exchanges(spark, sf_dir):
    """The fused panel: one fact scan, one Window node for all three
    lags, one symbol aggregate reusing the sort's partitioning —
    2 exchanges where the three standalone operators plan 6."""
    df = SPARK_QUERIES["liquidity_panel"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert plan.count("events.parquet") == 1, plan


def test_gap_percentiles_two_sorts_no_join(spark, sf_dir):
    """Gap percentiles: the lag sort (symbol, ts) and the rank sort
    (symbol, gap) are genuinely different orders — two window stacks,
    one symbol-partitioned throughout, then one aggregate.  No joins,
    no float percentile node."""
    plan = explain_str(SPARK_QUERIES["gap_percentiles"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "percentile" not in plan.lower(), plan


def test_price_impact_curve_one_partitioning_two_sorts(spark, sf_dir):
    """Impact curve: the time sort (move lag) and the volume-rank sort
    are different orders over ONE symbol partitioning; then a (symbol,
    bucket) aggregate.  No joins."""
    plan = explain_str(SPARK_QUERIES["price_impact_curve"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan


def test_language_mix_one_scan_group_scale_window(spark, sf_dir):
    """Language mix: one corpus scan into one hash aggregate; the
    share window runs over GROUP-scale rows (sources x languages).
    No joins."""
    plan = explain_str(SPARK_QUERIES["corpus_language_mix"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("documents.parquet") == 1, plan


def test_market_concentration_two_combiner_aggs(spark, sf_dir):
    """Market HHI: tick-scale work is ONE (symbol, bucket) aggregate
    with map-side partials; the bucket rollup runs on symbol-scale
    rows.  No joins, no windows."""
    plan = explain_str(SPARK_QUERIES["market_concentration"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert "partial" in plan.lower(), plan


def test_dedup_rate_by_source_wordcount_shape(spark, sf_dir):
    """Per-source dup ledger: one (source, hash) combiner aggregate,
    then a #sources rollup — no joins, no windows."""
    plan = explain_str(SPARK_QUERIES["dedup_rate_by_source"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_acf_spectrum_single_window_single_agg(spark, sf_dir):
    """The whole spectrum rides ONE Window node (all close lags) and
    ONE aggregate; the unpivot is a pure projection.  Two exchanges,
    no joins, one fact scan."""
    plan = explain_str(SPARK_QUERIES["acf_spectrum"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert plan.count("events.parquet") == 1, plan


def test_round9_event_ops_single_scan_no_join(spark, sf_dir):
    """The round-9 repeated-scan audit's fixes, pinned: the event
    analytics ops and the substring-span detector each read their fact
    table ONCE and plan no joins (the rejected formulations — dau↔wau
    join, duplicated-set join-back — each cost a second full scan)."""
    for key, n_joins in [
        ("event_funnel", 0),
        ("retention_cohorts", 0),
        ("event_transitions", 0),
        ("active_users_window", 0),
        ("event_anomaly", 0),
        ("dedup_substring", 0),
    ]:
        plan = explain_str(SPARK_QUERIES[key](spark, sf_dir))
        scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        joins = len(re.findall(r"\(\d+\) \w*Join", plan))
        assert scans == 1, f"{key}: {scans} fact scans"
        assert joins == n_joins, f"{key}: {joins} joins"


def test_session_window_single_exchange_merging_sessions(spark, sf_dir):
    """The native-session-window key (21g's oracle-backed batch form):
    one pruned scan, map-side partial aggregate, ONE exchange on
    user_id, then Spark's MergingSessions — no second shuffle, no
    window-function sort of the raw events.  The shape that holds at
    100 TB: per-user state merges locally after a single fact
    exchange."""
    plan = explain_str(SPARK_QUERIES["session_window"](spark, sf_dir))
    assert plan.count("events.parquet") == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "MergingSessions" in plan, plan
    assert "Join" not in plan and "Window" not in plan.replace(
        "session_window", ""
    ), plan


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """The Gopher battery is row-local by construction: one documents
    scan, HOFs only, NO exchange anywhere — the plan an
    embarrassingly-parallel 100 TB filter must have."""
    plan = explain_str(SPARK_QUERIES["corpus_gopher_rules"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_c4_clean_zero_shuffle(spark, sf_dir):
    """The C4 transform is row-local like the Gopher battery: one
    scan, no exchange, no join."""
    plan = explain_str(SPARK_QUERIES["corpus_c4_clean"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1, plan
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_media_pair_key_plan_no_join_and_one_scan(spark, sf_dir):
    """The oracle-backed dedup_media_pairs KEY keeps the operator's
    100 TB shape end to end: signature synthesis + banding + Hamming
    verify with NO Join node and ONE documents scan (the union's two
    branches share the cached reader; planted twins are a projection,
    not a join-back)."""
    from marketstore_spark import queries as Q

    # bypass the persisted pair index: pin the RAW plan the operator
    # builds, not the InMemoryRelation the cache would show
    from marketstore_spark.operators.dedup import hash_near_dup_pairs

    df = hash_near_dup_pairs(
        Q._media_sigs(spark, sf_dir), bits=60, bands=4, max_hamming=3
    )
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert plan.count("documents.parquet") <= 2  # one per union branch


def test_event_cooccurrence_single_pipeline(spark, sf_dir):
    """session_cooccurrence derives N / per-type counts / pair counts
    from ONE array-folded aggregate — no self-derivation branches.
    The old three-branch stitch (filter k, broadcast-join back) pushed
    each branch's filter below the partial aggregate, so the whole
    session pipeline (window + collect_set + explode + agg) executed
    once PER BRANCH — 4 scans' worth of work at runtime.  Pin: one
    fact scan, no joins, exactly the two session windows."""
    plan = explain_str(SPARK_QUERIES["event_cooccurrence"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan


def test_ngram_pairs_single_collect_set_segment(spark, sf_dir):
    """The jaccard/containment pair pipeline executes its heaviest
    gram segment (collect_set + pair explode + pair aggregate) exactly
    ONCE at runtime: set sizes come from a light count branch over the
    capped gram stream, not from marker rows whose null-filter
    branches re-ran the whole segment (the old stitch executed
    partial_collect_set twice — branch filters pushed below the
    aggregate made the subtrees canonically unequal, so only the gram
    exchange reused)."""
    for key in ("dedup_ngram_jaccard", "dedup_containment"):
        df = SPARK_QUERIES[key](spark, sf_dir)
        df.collect()
        final = (
            df._jdf.queryExecution()  # noqa: SLF001
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert final.count("partial_collect_set") == 1, (key, final)
