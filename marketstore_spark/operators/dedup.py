"""Deduplication operators (SURVEY §2 #30-34): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine.

Determinism policy: every hash is md5-derived (identical across
engines and runs); MinHash values are the lexicographic minimum of md5
hex strings (no numeric conversion needed); SimHash is a 60-bit
'0'/'1' string built from the top 15 hex chars of each token's md5.

Scale policy: candidate generation is always *bucketed* — shared
shingle (with a document-frequency cap against hot shingles), LSH band
buckets, or simhash bands — so the pairwise stage never does an
O(n²) crossJoin on the corpus; the exact verify only touches candidate
pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marketstore_spark.functions.layout import spread_for_narrow_work

_WS = r"\s+"

#: Rows per block side in the embedding-LSH pair generator: bounds each
#: task's gram slab at block² doubles (~32 MB) and is the split point
#: past which a hot bucket fans out across block-pair tasks.
_PAIR_BLOCK_ROWS = 2048


# ---------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------


def _sliding_grams(words: Column, n: int, k: Column, post=None) -> Column:
    """All overlapping ``n``-word grams of ``words`` as one array —
    ``arrays_zip`` of ``n`` shifted length-``k`` slices, then a single
    per-element concat (``k`` = size-(n-1), precomputed by the caller so
    filters can share it).  CALLER CONTRACT: rows must satisfy ``k >= 1``
    — ``F.slice`` raises at runtime on a negative length, and the guard
    lives in each caller's filter (docs shorter than ``n`` words must be
    dropped before this projection evaluates).  This replaces the per-index form
    ``transform(sequence(1, k), i -> concat_ws(" ", slice(words, i, n)))``,
    which pays a slice allocation plus interpreted-HOF dispatch PER GRAM:
    the zip form measured 0.28 s vs 0.73 s for the sf0.1 gram stream
    (guide §1.2 — per-task work on the dedup family's hottest
    projection).  ``post`` wraps each gram inside the same lambda (e.g.
    ``F.md5``) so no second per-element pass is paid.  Identical output
    strings/order to the per-index form (asserted on fixtures and by
    full oracle parity).  NOT used for stepped non-overlapping spans
    (span_dedup_groups): with stride w only n/w lambdas fire there, and
    zipping would copy w full-length slices for grams it then drops.
    """
    parts = [F.slice(words, j + 1, k).alias(f"w{j}") for j in range(n)]

    def elem(s):
        g = F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])
        return post(g) if post is not None else g

    return F.transform(F.arrays_zip(*parts), elem)


def word_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram set per document: (doc_id, shingle).

    Built with JVM-side higher-order functions: split → transform over a
    sliding index range → (array_distinct) → explode.  A single narrow
    projection, NO shuffle: ``distinct=True`` dedups row-side with
    ``array_distinct`` (the buffer is one document's gram array), which
    equals a global distinct because ``id_col`` is the document key —
    one row per document.  Pass ``distinct=False`` when the caller's
    next step dedups anyway (e.g. ``collect_set`` / min-agg), saving
    the per-row dedup pass.
    """
    words = F.split(F.trim(F.col(text_col)), _WS)
    k = F.size(words) - (n - 1)
    # Gram construction via arrays_zip of n shifted views instead of a
    # per-index lambda — see _sliding_grams for the measured rationale.
    grams = _sliding_grams(words, n, k)
    if distinct:
        grams = F.array_distinct(grams)
    # Spread the heavy explode/hash projection across the cluster when
    # the input's split count can't (functions/layout: size-gated — a
    # tiny local corpus skips the shuffle, a 100 TB scan already has
    # more splits than cores and skips it too; heavy: the shingle
    # transform is an interpreted per-word lambda).
    df = spread_for_narrow_work(df, id_col, heavy=True)
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .filter(k >= 1)
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle"))
    )


# ---------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = True
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    canonical (minimum) doc id and the duplicate count."""
    t = F.col(text_col)
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), _WS, " ")
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(t).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def span_dedup_groups(
    df: DataFrame,
    span_words: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup at span granularity: documents are cut
    into NON-overlapping ``span_words``-word windows (a trailing
    partial window is dropped), each span is content-hashed, and spans
    that recur across ≥ ``min_docs`` distinct documents are reported
    with their duplication stats and canonical (minimum) first
    occurrence.

    This is the paragraph/line-level dedup stage of published corpus
    pipelines (Dolma's paragraph dedup, CCNet/RefinedWeb line dedup) —
    exact whole-document dedup misses boilerplate repeated INSIDE
    otherwise-distinct pages; this catches it.  The reference engine
    has no analogue (pipeline surface beyond SURVEY §2 #30).  With a
    newline-structured corpus pass the natural unit by pre-splitting;
    the fixed word window is the structure-free default that works on
    any text.

    Shape: one narrow projection (split → slice spans via a step-``w``
    index sequence → posexplode), ONE exchange on the 32-byte span
    hash, and two exchange-free stacked hash aggregates above it —
    (hash, doc) then hash.  Spark's native single-distinct rewrite of
    ``count_distinct(doc_id)`` shuffles the span stream TWICE (first
    on (hash, doc), then on hash); the explicit repartition makes both
    groupings co-partitioned so the second exchange disappears, and
    the map-side partial it forgoes combined nothing anyway — a
    (hash, doc) partial only merges the same span repeated in the SAME
    document on the SAME task, while cross-document repeats (the
    common case for boilerplate) never combine before the hash-keyed
    exchange in either shape.  Distinct-doc counts become plain
    ``count(1)`` over the (hash, doc) grain; per the dedup-family
    contract ids are non-null (posting lists cast them to long).
    The span count per doc is len/w (bounded, linear in input) and
    the keys are fixed-width, so the operator scales like a plain
    wordcount; no posting lists, no pair generation.
    """
    words = F.split(F.trim(F.col(text_col)), _WS)
    n_spans = (F.size(words) / span_words).cast("int")
    starts = F.sequence(F.lit(1), (n_spans - 1) * span_words + 1, F.lit(span_words))
    spans = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i, span_words)))
    # Spread the per-doc HOF work across the cluster when splits can't
    # (size-gated — see word_shingles), and keep the span builder OUT
    # of the explode pipeline so Catalyst can't re-evaluate it per
    # exploded row.
    df = spread_for_narrow_work(df, id_col)
    exploded = (
        df.filter(F.size(words) >= span_words)
        .select(F.col(id_col).alias("doc_id"), F.posexplode(spans).alias("span_idx", "span"))
    )
    per_doc = (
        exploded.select("doc_id", F.md5(F.col("span")).alias("span_hash"))
        .repartition("span_hash")
        .groupBy("span_hash", "doc_id")
        .agg(F.count(F.lit(1)).alias("__occ"))
    )
    return (
        per_doc.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__occ").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def substring_dup_spans(
    df: DataFrame,
    k: int = 8,
    min_sites: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup at word granularity: maximal duplicated
    spans per document, the distributed analogue of suffix-array
    ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better").

    Every OVERLAPPING ``k``-word window is content-hashed (one hash per
    word position — unlike :func:`span_dedup_groups`'s non-overlapping
    windows, this catches boilerplate at ANY offset).  A position is
    "duplicated" when its ``k``-gram occurs at ≥ ``min_sites`` sites
    corpus-wide (across documents or repeated within one).  Runs of
    consecutive duplicated positions merge into maximal spans: a run
    ``[p..q]`` means words ``[p, q+k)`` appear verbatim elsewhere.
    Returns (doc_id, start_word, end_word, width_words) with
    ``end_word`` exclusive.

    Scale shape: shingling is a narrow projection (split → slice per
    index → posexplode, O(n·k) work per doc); site survival is ONE
    window count over the 32-byte gram hash — one scan, one shuffle,
    zero joins (the aggregate-then-join-back formulation was measured
    at 2 fact scans with no runtime exchange reuse: the aggregate's
    exchange carries partials, the join's carries raw sites, so AQE
    cannot dedup them).  A boilerplate gram's sites land in one window
    partition, but the join formulation hash-partitioned the SAME rows
    to the same single reducer — identical skew, one less pass; the
    window buffer spills, never OOMs, and no posting list is ever an
    aggregation VALUE.  The span merge is one more window + one
    aggregate keyed by doc.  No pair generation anywhere.
    """
    words = F.split(F.trim(F.col(text_col)), _WS)
    n_pos = F.size(words) - (k - 1)
    # One hash per overlapping position — zip form with md5 fused into
    # the per-element lambda (see _sliding_grams; one pass, no second
    # per-element transform).
    grams = _sliding_grams(words, k, n_pos, post=F.md5)
    df = spread_for_narrow_work(df, id_col, heavy=True)
    sites = (
        df.filter(F.trim(F.col(text_col)) != "")
        .filter(n_pos >= 1)
        .select(F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("pos", "h"))
    )
    wh = Window.partitionBy("h")
    dup_sites = (
        sites.withColumn("occ", F.count(F.lit(1)).over(wh))
        .filter(F.col("occ") >= min_sites)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_sites.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("start_word"),
            (F.max("pos") + k).alias("end_word"),
            (F.max("pos") + k - F.min("pos")).alias("width_words"),
        )
        .select(
            "doc_id",
            F.col("start_word").cast("long").alias("start_word"),
            F.col("end_word").cast("long").alias("end_word"),
            F.col("width_words").cast("long").alias("width_words"),
        )
    )


# ---------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------


def _capped_grams(
    df: DataFrame,
    n: int,
    max_doc_freq: int | None,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The capped (doc_id, shingle) gram stream — the shared front of
    the posting lists and the per-doc set sizes."""
    sh = word_shingles(df, n, text_col, id_col, distinct=True)
    if max_doc_freq is not None:
        dfreq = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = sh.withColumn("__df", dfreq).filter(
            F.col("__df") <= max_doc_freq
        )
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word n-gram sets.

    Candidate pairs come from co-occurrence in a shingle's posting
    list: one ``groupBy(shingle)`` builds the (sorted, deduped) list of
    documents containing it — no self-join, so the shingle table
    shuffles ONCE.  Shingles seen in more than ``max_doc_freq``
    documents are dropped (standard hot-shingle cap — at 100 TB a
    stopword-like shingle would otherwise generate quadratic
    candidates).  The cap is enforced BEFORE any posting list exists:
    a ``count(*) over (partition by shingle)`` window computes the doc
    frequency (shingles are pre-deduped row-side, so rows == docs) and
    the filter drops hot grams ahead of ``collect_set``.  WindowExec
    buffers a partition group in a spillable row container, so a true
    boilerplate gram in 10⁸ documents spills to local disk and is then
    discarded — no aggregation buffer is ever corpus-degree-sized
    (VERDICT r09 "What's wrong" #1; dedup_substring's rule, applied to
    its siblings).  The subsequent ``groupBy(shingle)`` reuses the
    window's hash partitioning, so the gram table still shuffles once,
    and every ``collect_set`` buffer is ≤ ``max_doc_freq`` entries.
    The cap only prunes candidates; Jaccard is computed on capped sets
    for both sides identically, keeping results deterministic.

    Intersections come from the posting-list pair explode; per-doc
    capped set sizes from a light count branch over the same capped
    gram stream — see :func:`_pairs_with_sizes` for the measured
    attach-shape comparison.
    """
    jac = (
        _pairs_with_sizes(df, n, max_doc_freq, text_col, id_col)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


def _pairs_with_sizes(
    df: DataFrame,
    n: int,
    max_doc_freq: int | None,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(doc_a, doc_b, inter, size_a, size_b) candidate pairs from the
    capped gram stream — the jaccard/containment shared middle.

    Intersections come from the posting-list pair explode (one
    ``groupBy(shingle)`` + pair generation, no self-join).  Per-doc
    capped set sizes come from a LIGHT branch over the same capped
    gram stream: ``groupBy(doc_id).count()`` — map-side partial
    counts, an exchange of per-doc partials only.  The size branch
    shares the gram exchange with the list branch (ReusedExchange in
    the final adaptive plan) and re-runs only the cap window above it;
    the old marker-row stitch re-ran ``collect_set`` AND the pair
    explode AND the pair aggregate a second time for the sizes
    (branch null-filters pushed below the aggregate made the subtrees
    canonically unequal — only the gram exchange reused).

    Two attach shapes were measured before settling here (guide §1.1:
    the "ideal" plan lost the empirical loop).  Interleaved min-of-6
    at sf0.1, containment: this form 1.22 s, the old marker stitch
    1.36 s, a join-free window-attach over double-oriented marker
    rows 1.72 s (its two candidate-scale window stages cost more than
    the duplicated segment they remove at every SF measurable on this
    box — re-evaluate if the bench SF ever grows).

    The explicit ``repartition("shingle")`` below the two consumers is
    a MATERIALIZATION BARRIER: without it each branch re-ran the cap
    sort+window above the (reused) gram exchange, because AQE's
    ReusedExchange dedups exchanges, not the operators above them.
    The barrier's own exchange is the canonical subtree both branches
    consume, so the capped stream is sorted/windowed ONCE and replayed
    from shuffle files — one extra shuffle write of the capped grams
    buys back a full O(n log n) sort re-run (4-round interleaved A/B
    at sf0.1: median-of-mins 1.074 → 0.978 s on containment, every
    round faster; at 100 TB the removed sort dominates the added
    sequential read).  It is hash-partitioned on the same key the
    posting-list aggregate needs, so the aggregate adds no exchange.

    The size joins are left to AQE: broadcast at test scale, shuffle
    joins of narrow already-aggregated tables at corpus scale —
    either way they cannot re-shuffle the gram stream.
    """
    shc = _capped_grams(df, n, max_doc_freq, text_col, id_col).repartition(
        F.col("shingle")
    )
    grouped = shc.groupBy("shingle").agg(
        F.array_sort(F.collect_set(F.col("doc_id").cast("long"))).alias("docs")
    )
    # NOTE (r14, examined-left): blocked pair generation (the
    # _PAIR_BLOCK_ROWS pattern — cut each list into <=64-doc blocks,
    # spread block-pair rows through an exchange, explode post-shuffle)
    # was implemented twice here after tools/stress_parallel.py showed
    # dedup_ngram_jaccard FLAT from 8->32 cores on a 32-file 50k-doc
    # stress corpus (31.6M candidate pairs) while every sibling key
    # scaled 1.8-2.7x.  Both variants measurably regressed sf0.1
    # (uniform blocked: ~2x; small/big hybrid union: +25% from the
    # doubled posting aggregate — the size(docs) branch filters cannot
    # split the gram stream below the aggregate without forking the
    # shingle barrier).  Root cause of the flat probe is NOT task
    # skew: max_doc_freq already caps any one list at ~500k pair
    # emissions (~tens of ms), and 31.6M pairs hash-aggregated inside
    # ONE local JVM is heap/GC-bound — a shared-heap artifact that
    # distributed executors do not reproduce.  The one-shot explode
    # stays; see OPTIMIZATION_r14.md for the full A/B numbers.
    pairs = grouped.select(
        F.explode(
            F.expr(
                """
                flatten(transform(docs, (x, i) ->
                  transform(slice(docs, i + 2, size(docs)),
                            y -> struct(x AS doc_a, y AS doc_b))))
                """
            )
        ).alias("e")
    ).select("e.doc_a", "e.doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter"))
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sa = sizes.select(
        F.col("doc_id").cast("long").alias("doc_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sizes.select(
        F.col("doc_id").cast("long").alias("doc_b"),
        F.col("set_size").alias("size_b"),
    )
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT: inter /
    min(|A|, |B|) — the quote/subset detector Jaccard misses.  A short
    document fully embedded in a long one scores containment 1.0 while
    its Jaccard stays near |A|/|B| (tiny), so Jaccard-threshold dedup
    keeps the quote pair; mix designers and decontamination pipelines
    want it surfaced.

    Same machinery and scale posture as :func:`ngram_jaccard_pairs`
    (one posting-list shuffle, hot-shingle cap pruning candidates, the
    cap applied to both sides identically so the score is
    deterministic) — only the final scoring expression differs.
    Output: doc_a, doc_b, inter, size_a, size_b, containment.
    """
    return (
        _pairs_with_sizes(df, n, max_doc_freq, text_col, id_col)
        .withColumn(
            "containment",
            F.col("inter").cast("double") / F.least("size_a", "size_b"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "containment")
    )


# ---------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------


def _minhash_cols(num_hashes: int) -> list[Column]:
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash→LSH banding→bucket join→exact Jaccard verify.

    ``bands`` bands of ``num_hashes/bands`` rows; a pair is a candidate
    iff some band's concatenated signature matches.  Candidates are then
    verified with exact Jaccard over the shingle sets, so the output is
    exactly {pairs sharing a band} ∩ {jaccard ≥ threshold} —
    deterministic across engines.  The band join shuffles on
    (band_idx, band_key): collision buckets, never the cross product.

    Plan shape: ONE groupBy(doc_id) builds both the shingle set and
    the full signature (min-agg doesn't need pre-deduped input), so the
    exploded shingle table is shuffled exactly once.  Candidate pairs
    come from each bucket's posting list (groupBy band → sorted doc
    list → pair explode), NOT a self-join — the banded table shuffles
    once instead of twice, and ``max_bucket`` bounds any one bucket's
    quadratic blow-up (a degenerate near-constant corpus would
    otherwise put every doc in one bucket; capped buckets are dropped,
    which only loses candidates that — being that common — almost
    surely share some other band).  Verification joins the two per-doc
    shingle *arrays* onto each candidate pair and intersects them
    JVM-side (``array_intersect``) — no re-explode, no
    per-(pair,shingle) shuffle, no separate size join.  At 100 TB the
    per-doc state stays bounded (a document's shingle set), candidates
    stay bucket-limited, and the verify is two hash joins keyed on doc
    id.
    """
    rows = num_hashes // bands
    max_bucket = 10_000

    sh = word_shingles(df, n, text_col, id_col, distinct=False)
    # ONE combined aggregate (shingle set + all 32 minima) behind an
    # explicit repartition("doc_id") MATERIALIZATION BARRIER (r14; the
    # _pairs_with_sizes pattern).  per_doc feeds three subtrees
    # (banding + both verify sides); without the barrier, per-branch
    # column pruning split the aggregate — banding kept the mh minima
    # (min(string) buffers demote to SortAggregate), the verify sides
    # kept shset — so the gram stream was CONSTRUCTED AND AGGREGATED
    # once per branch (r10 runtime census; the r13 "anchor trick"
    # probe that merely referenced all columns in every branch made
    # each branch do the union of the work without unifying the
    # exchanges — anchors only pay off COMBINED with a barrier).  The
    # barrier's exchange is the canonical subtree all three consumers
    # share: the gram projection runs ONCE, the combined aggregate
    # runs ONCE (ObjectHashAggregate — collect_set is
    # typed-imperative, so no standalone SortAggregate branch
    # remains), and consumers replay doc-scale rows from shuffle
    # files.  At 100 TB this turns 3 corpus-gram passes + 2 set-sized
    # exchanges + 1 map-side gram sort into 1 gram pass + 1 set-sized
    # exchange + 1 doc-row barrier shuffle.  No persist: a persisted
    # multi-billion-row shingle-set table would pin executor storage
    # for the query's whole lifetime (and leak past it: a returned
    # lazy DataFrame can never unpersist); the barrier gives the same
    # run-once property from disk-backed shuffle files instead.
    #
    # Canonical-subtree discipline (probed live on 4.1.2: Filter AND
    # Project both push BELOW RepartitionByExpression, so anything a
    # consumer does differently forks the below-exchange subtree and
    # ReusedExchange never fires):
    #   * the doc_id isnotnull the verify joins INFER is pre-seeded in
    #     the shared gram stream (output-neutral: collect_set skips
    #     null doc ids, so a null group never reaches a posting list,
    #     and the verify joins drop it — the bigram_lift idiom);
    #   * the barrier key is pmod(doc_id, 2³¹), NOT doc_id itself — a
    #     repartition whose key equals the aggregate's grouping key is
    #     physically ELIMINATED as redundant (probed: the exchange
    #     never materializes and consumers re-run the final aggregate);
    #     the pmod is a distribution-identical but expression-distinct
    #     key, so the barrier survives planning;
    #   * the ``bands`` band keys are md5-compressed BELOW the barrier
    #     (one shared projection), so the barrier ships ``bands`` hex
    #     strings per doc instead of all ``num_hashes`` raw minima —
    #     4× fewer signature bytes at the default 32/8 config (§2.3
    #     shuffle fewer bytes) and the banding md5 runs once;
    #   * set_size is computed ABOVE the barrier (each consumer's
    #     trivial per-row projection) as greatest(size(shset),
    #     0 − length(concat_ws(bk*))) — provably equal to size(shset)
    #     (size ≥ 0 ≥ −length always) but the optimizer cannot fold it
    #     (a 0·length(…) form WAS folded away when probed), so the
    #     verify branches' pruning still demands every band-key column
    #     below the exchange;
    #   * the banding side reciprocally anchors shset via
    #     concat_ws("", bk_i, F.get(shset, -1)) — get(·, -1) is ALWAYS
    #     NULL (0-based get, invalid index) and concat_ws skips NULLs,
    #     so every band key is byte-identical.
    band_key_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"mh{bi * rows + r}") for r in range(rows)])
        ).alias(f"bk{bi}")
        for bi in range(bands)
    ]
    per_doc = (
        sh.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shset"), *_minhash_cols(num_hashes))
        .select("doc_id", "shset", *band_key_cols)
        .repartition(F.pmod(F.col("doc_id"), F.lit(1 << 31)))
        .withColumn(
            "set_size",
            F.greatest(
                F.size("shset"),
                F.lit(0)
                - F.length(
                    F.concat_ws("", *[F.col(f"bk{i}") for i in range(bands)])
                ),
            ),
        )
    )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.concat_ws(
                "", F.col(f"bk{bi}"), F.get(F.col("shset"), F.lit(-1))
            ).alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = per_doc.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )

    cands = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
        .select(F.posexplode("docs").alias("__i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(F.slice("docs", F.col("__i") + 2, F.size("docs"))).alias("doc_b"),
        )
        .distinct()
    )

    sets_a = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("__sa"), F.col("set_size").alias("size_a")
    )
    sets_b = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("__sb"), F.col("set_size").alias("size_b")
    )
    jac = (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        # Size-ratio prune BEFORE the O(|set|) intersect: jaccard ≤
        # min(|A|,|B|)/max(|A|,|B|), so a pair whose sizes differ more
        # than the threshold allows can never pass — drop it while the
        # row still costs only two ints.  Exact, not approximate.
        .filter(
            F.least("size_a", "size_b").cast("double")
            >= threshold * F.greatest("size_a", "size_b")
        )
        .withColumn("inter", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


def keep_list(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Greedy near-dup keep rule: drop every doc that duplicates a
    smaller-id doc (appears as ``doc_b`` in a pair, pairs being
    emitted with doc_a < doc_b).  One distinct + one broadcast-able
    anti join — the standard LSH-dedup reducer when full transitive
    clustering isn't required (see :func:`connected_components`)."""
    dropped = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.select(id_col).distinct().join(dropped, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Transitive dup clusters from a pair list: (doc_id, component)
    with component = min doc id reachable through pairs.

    Iterative min-label propagation — the canonical Spark pattern for
    small-diameter graphs (near-dup clusters are shallow: diameter is
    rarely > a few hops).  Each round: every node adopts the minimum
    label in its neighborhood (join on edges + groupBy min); stop when
    a round changes nothing.  Rounds are O(diameter); each round is
    two shuffles (edge join, label agg) on the node id.  Labels are
    persisted per round and the previous round unpersisted, so lineage
    and memory stay bounded at any scale."""
    from pyspark import StorageLevel

    # Materialize the pair list ONCE: both union branches reference it,
    # and without a persist each branch re-executes the (expensive)
    # upstream candidate pipeline.  Respect a caller-managed persist
    # (e.g. a shared pair index) — don't steal its cache lifetime.
    caller_persisted = pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
    if not caller_persisted:
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges.count()  # force, then release the upstream pipeline
    if not caller_persisted:
        pairs.unpersist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Convergence check: labels only ever DECREASE under min-label
    # propagation, so the label sum strictly decreases until the fixed
    # point — one cheap aggregate per round instead of a self-join diff.
    prev_sum = labels.agg(F.sum("component").cast("decimal(38,0)")).first()[0]
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        new_sum = new_labels.agg(F.sum("component").cast("decimal(38,0)")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), "component")


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars → fits signed 64-bit in any engine


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document as a '0'/'1' string.

    Each distinct token hashes to 60 bits (binary expansion of the top
    15 hex chars of its md5); bit j of the signature is 1 iff more
    tokens have bit j set than unset.  The 60 per-position votes are 60
    conditional-sum AGGREGATE COLUMNS over the (doc, token) table — not
    a row explosion to (doc, token, position): partial aggregation
    collapses each doc to one 60-counter row map-side, so the shuffle
    carries docs×60 longs instead of docs×tokens×60 rows (a 60× row
    blowup this operator previously paid, dominating its wall time).
    """
    words = F.split(F.trim(F.col(text_col)), _WS)
    # Parallelize the token fan-out when the split count can't
    # (size-gated — see word_shingles note).
    df = spread_for_narrow_work(df, id_col, heavy=True)
    # Token dedup is ROW-SIDE (array_distinct on the per-doc words
    # array, r14) — equal to a global distinct because ``id_col`` is
    # the document key (one row per document; the word_shingles
    # distinct=True contract).  The old ``.distinct()`` cost two
    # full-stream HashAggregate passes per task (hash-map probe per
    # (doc, token) row) here, and at 100 TB — where the size-gated
    # spread exchange is SKIPPED and no doc-keyed partitioning exists —
    # it would demand its own corpus-scale (doc, token) exchange before
    # the votes aggregate.  Row-side dedup needs neither; the only
    # exchange carries the docs×60 partial vote counters.
    toks = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(words)).alias("tok"),
        )
    )
    # One 60-bit integer per token (conv is exact: 15 hex chars < 2^63);
    # vote j tests bit (59-j) with shift+mask — pure JVM integer
    # arithmetic, no per-position string allocation.
    sigl = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    tok_sig = toks.select("doc_id", sigl.alias("sigl"))
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("sigl"), SIMHASH_BITS - 1 - i).bitwiseAND(
                    F.lit(1)
                )
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    sig_str = F.concat(
        *[
            F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIMHASH_BITS)
        ]
    )
    return (
        tok_sig.groupBy("doc_id").agg(*votes).select("doc_id", sig_str.alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share at least one of
    ``bands`` contiguous signature bands (pigeonhole: any pair within
    Hamming ``max_hamming`` < ``bands`` must agree on some band);
    verified by Hamming distance ≤ ``max_hamming`` over the full
    signature.

    Candidates come from each band bucket's posting list (one shuffle
    of the banded table, capped buckets — same shape as
    minhash_lsh_pairs).  The 60-bit signature travels WITH the doc id
    through the posting list as an integer, so candidate pairs emit
    with both signatures attached and verify map-side —
    ``bit_count(sig_a XOR sig_b)`` is one JVM instruction pair per
    candidate (vs. the ~120 array ops of a per-character zip_with) and
    there are no signature re-attach joins at all.  Only the pairs
    that SURVIVE the Hamming filter reach the final distinct (a pair
    can match in up to ``bands`` buckets), so the second shuffle
    carries results, not candidates — the shape that matters at
    100 TB, where candidates dwarf results."""
    width = SIMHASH_BITS // bands
    max_bucket = 10_000
    # Single consumer (the banding explode) — no persist needed; one
    # previously sat here and only pinned executor storage.
    sigs = simhash(df, text_col, id_col).withColumn(
        "sigl", F.conv("simhash", 2, 10).cast("long")
    )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.substring("simhash", bi * width + 1, width).alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = sigs.select(
        F.struct("doc_id", "sigl").alias("doc"),
        F.explode(F.array(*band_structs)).alias("b"),
    ).select(
        "doc", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )
    # array_sort on (doc_id, sigl) structs orders by doc_id, so the
    # slice expansion yields doc_a < doc_b exactly as before.
    pairs = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_set("doc")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
        .select(F.posexplode("docs").alias("__i", "a"), "docs")
        .select(
            "a",
            F.explode(F.slice("docs", F.col("__i") + 2, F.size("docs"))).alias("b"),
        )
    )
    ham = F.bit_count(F.col("a.sigl").bitwiseXOR(F.col("b.sigl"))).cast("int")
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
        .distinct()
    )


def hash_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-dup pairs over an INTEGER perceptual-hash column (e.g.
    multimodal.image_dhash's 64-bit dHash) — the media twin of
    :func:`simhash_pairs` with the banding done in pure JVM integer
    arithmetic (shiftright+mask band keys, no string signature at
    all).  Pigeonhole: Hamming ≤ ``max_hamming`` < ``bands`` forces a
    shared band.  Candidates stay inside their band buckets (capped
    posting lists, one shuffle), the signature rides the posting list,
    and verification is one ``bit_count(a XOR b)`` per candidate —
    only surviving pairs reach the final distinct.  Same 100 TB shape
    as the text family: no all-pairs, no re-attach joins."""
    if bits % bands:
        raise ValueError("bands must divide bits")
    width = bits // bands
    mask = (1 << width) - 1
    rows = sigs.select(
        F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sig")).alias(
            "doc"
        )
    )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.shiftright(F.col("doc.sig"), bits - (bi + 1) * width)
            .bitwiseAND(F.lit(mask))
            .alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = rows.select(
        "doc", F.explode(F.array(*band_structs)).alias("b")
    ).select(
        "doc",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )
    pairs = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_set("doc")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
        .select(F.posexplode("docs").alias("__i", "a"), "docs")
        .select(
            "a",
            F.explode(F.slice("docs", F.col("__i") + 2, F.size("docs"))).alias("b"),
        )
    )
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("int")
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


def media_dedup_keep(
    sigs: DataFrame,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    max_hamming: int = 3,
    bands: int = 4,
    transitive: bool = True,
) -> DataFrame:
    """Media dedup capstone: perceptual-hash rows (image dHash / audio
    fingerprint — any integer signature) → banded near-dup pairs →
    keep-list of canonical survivors, mirroring the text family's
    pairs→clusters→keep funnel.  ``transitive=True`` clusters through
    :func:`connected_components` (min-id canonical per component, so
    A~B~C collapses to A even when A and C never paired directly);
    ``False`` uses the greedy smaller-id rule (:func:`keep_list`) when
    full transitivity isn't required.  Every stage is the bucketed
    shape already audited at 100 TB — nothing here adds a shuffle
    beyond the pair generation and the O(diameter) label rounds."""
    pairs = hash_near_dup_pairs(
        sigs, id_col=id_col, sig_col=sig_col, bands=bands, max_hamming=max_hamming
    )
    ids = sigs.select(id_col).distinct()
    if transitive:
        comp = connected_components(pairs, "id_a", "id_b")
        dropped = comp.filter(F.col("doc_id") != F.col("component")).select(
            F.col("doc_id").alias(id_col)
        )
        return ids.join(dropped, id_col, "left_anti")
    return keep_list(
        ids.select(F.col(id_col).alias("doc_id")),
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
    ).select(F.col("doc_id").alias(id_col))


def video_near_dup_pairs(
    frame_sigs: DataFrame,
    min_shared: int = 2,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-dup video pairs from per-frame fingerprints
    (multimodal.video_frame_dhash): two videos pair when at least
    ``min_shared`` sampled-frame hashes coincide — the CBIR
    shared-fingerprint criterion, robust to trims, re-muxing, and
    frame-rate changes that preserve content.

    One fingerprint-keyed shuffle: distinct (hash, id) → capped
    posting list per hash → in-bucket pair expansion → count shared
    fingerprints per pair.  A video's frames against a corpus of
    videos never go all-pairs; the pair aggregate carries only
    bucket-expanded candidates, and hot fingerprints (test cards,
    black frames) are dropped by the bucket cap exactly like hot
    grams in the text family."""
    rows = frame_sigs.select(
        F.col(sig_col).alias("sig"), F.col(id_col).alias("id")
    ).distinct()
    buckets = (
        rows.groupBy("sig")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(F.posexplode("ids").alias("__i", "a"), "ids").select(
        "a",
        F.explode(F.slice("ids", F.col("__i") + 2, F.size("ids"))).alias("b"),
    )
    return (
        pairs.groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )


# ---------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------


def _blocked_cosine_candidates(sig: DataFrame, gate: float) -> DataFrame:
    """Candidate near-dup pairs within each bucket of ``sig``
    (columns: bucket, id, v) at cosine ≥ ``gate``, via block-pair
    numpy grams — the shared core of the hyperplane-LSH and semantic-
    cluster dedup paths.

    Block assignment: contiguous id-ordered runs of ≤ _PAIR_BLOCK_ROWS
    per bucket.  Every row fans out to each block it must meet
    (nblk rows emitted per row), so group (bucket, ga, gb) holds
    exactly the two blocks' rows — small buckets (nblk == 1) pay no
    fan-out and keep the one-task-per-bucket shape.  A hot bucket —
    the classic straggler at 100 TB — parallelizes across the cluster
    with each task's slab bounded at block² doubles.  Survivors carry
    their vectors out for in-place exact re-verification (no re-join
    against the corpus).  Output: bucket, id_a, id_b, va, vb.
    """
    import numpy as np
    import pandas as pd

    w_rn = Window.partitionBy("bucket").orderBy("id")
    w_n = Window.partitionBy("bucket")
    sig = (
        sig.withColumn("rn", F.row_number().over(w_rn) - 1)
        .withColumn("nblk", F.ceil(F.count("*").over(w_n) / _PAIR_BLOCK_ROWS).cast("int"))
        .withColumn("blk", (F.col("rn") / _PAIR_BLOCK_ROWS).cast("int"))
    )
    bucket_type = sig.schema["bucket"].dataType.simpleString()
    ex = (
        sig.select(
            "bucket", "id", "v", "blk",
            F.explode(F.sequence(F.lit(0), F.col("nblk") - 1)).alias("other"),
        )
        .withColumn("ga", F.least("blk", "other"))
        .withColumn("gb", F.greatest("blk", "other"))
    )

    def _block_pairs(key, pdf):
        ga, gb = int(key[1]), int(key[2])

        def prep(sub):
            ids = sub["id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            mat = np.stack(sub["v"].to_numpy())[order].astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0.0] = 1.0
            return ids, mat, mat / norms[:, None]

        if ga == gb:
            ids_a, mat_a, unit_a = prep(pdf)
            sims = unit_a @ unit_a.T
            ri, ci = np.nonzero(np.triu(sims >= gate, k=1))
            ids_b, mat_b = ids_a, mat_a
        else:
            # row_number orders blocks by id, so every id in block ga
            # sorts before every id in block gb — pair orientation is
            # free, and no cross-block pair can be double-emitted.
            ids_a, mat_a, unit_a = prep(pdf[pdf["blk"] == ga])
            ids_b, mat_b, unit_b = prep(pdf[pdf["blk"] == gb])
            sims = unit_a @ unit_b.T
            ri, ci = np.nonzero(sims >= gate)
        # Explicit dtypes: a zero-survivor group would otherwise give the
        # vector columns a float64 dtype Arrow can't cast to list<double>.
        return pd.DataFrame(
            {
                "bucket": pd.Series(
                    [key[0]] * len(ri),
                    dtype="object" if bucket_type == "string" else "int64",
                ),
                "id_a": pd.Series(ids_a[ri], dtype="int64"),
                "id_b": pd.Series(ids_b[ci], dtype="int64"),
                "va": pd.Series([r.tolist() for r in mat_a[ri]], dtype="object"),
                "vb": pd.Series([r.tolist() for r in mat_b[ci]], dtype="object"),
            }
        )

    return ex.groupBy("bucket", "ga", "gb").applyInPandas(
        _block_pairs,
        f"bucket {bucket_type}, id_a long, id_b long, "
        "va array<double>, vb array<double>",
    )


def embedding_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.35,
    num_planes: int = 4,
    num_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold, hyperplane-LSH blocked —
    the 100 TB path for ``embedding_dup_pairs``.

    Candidates must share a bucket in at least one of ``num_tables``
    hyperplane tables (operators/simsearch._bucket_assigner); each
    candidate is verified with the exact cosine, so precision is 1.0
    against the exact operator and recall is the LSH knob (more
    tables / fewer planes → higher recall, more candidates) — the
    recall test in pytest pins the tradeoff.  The pairwise stage only
    ever joins within buckets: no O(n²) crossJoin on the corpus.

    Within a bucket, candidate GENERATION is one numpy gram matrix per
    BLOCK PAIR in applyInPandas — the sanctioned Arrow/BLAS case,
    ~100× over per-pair Catalyst lambda evaluation — gated at
    ``threshold - 1e-6``.  A bucket larger than ``_PAIR_BLOCK_ROWS``
    is split (by id order) into blocks, and every block pair (i ≤ j)
    becomes its own task: a hot bucket — the classic LSH straggler at
    100 TB, where one skewed band key would otherwise serialize the
    whole gram on a single executor — parallelizes across the cluster
    with each task's slab bounded at block² doubles.  Survivors
    (≈ results, orders of magnitude under candidates) carry their
    vectors out of the generator and are re-verified in-place with the
    exact sequential-sum ``cosine_sim`` expression — no re-join against
    the corpus — so emitted values and the threshold decision bit-match
    the pre-BLAS implementation (matmul FMA/pairwise summation sits
    ~1e-15 off the sequential sum, absorbed by the gate margin; no pair
    can flip; float→double widening is exact).
    """
    from marketstore_spark.functions.vector import cosine_sim
    from marketstore_spark.operators.simsearch import _bucket_assigner

    with_buckets = _bucket_assigner(num_planes, num_tables, id_col, vec_col)
    sig = with_buckets(df, "id", "v")
    cand = _blocked_cosine_candidates(sig, threshold - 1e-6).drop("bucket")
    if num_tables > 1:
        # A pair surfaces once per table whose bucket it shares; with a
        # single table no duplicate is possible — skip the shuffle.
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return (
        cand.withColumn("cosine", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    allow_quadratic: bool = False,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold.

    When ``block_col`` is given (e.g. an LSH bucket or cluster label),
    the pairwise join runs within blocks only — the 100 TB path.  With
    no block column this is the exact O(n²) verifier for small n, and
    it REFUSES to run above ``max_exact_rows`` unless
    ``allow_quadratic=True``: an unblocked self-join plans as
    BroadcastNestedLoop and silently melts at corpus scale — fail
    loudly instead and point at :func:`embedding_dup_pairs_lsh`.
    """
    from marketstore_spark.functions.vector import cosine_sim

    if block_col is None and not allow_quadratic:
        n = df.count()
        if n > max_exact_rows:
            raise ValueError(
                f"embedding_dup_pairs without block_col is O(n²) and the input "
                f"has {n} rows (> {max_exact_rows}); use embedding_dup_pairs_lsh, "
                f"pass block_col, or opt in with allow_quadratic=True"
            )

    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("id"),
        vec_d.alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    pairs = a.join(b, cond)
    cos = cosine_sim(F.col("a.v"), F.col("b.v"))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .withColumn("cosine", F.round("cosine", 6))
    )


# ---------------------------------------------------------------------
# train/test decontamination
# ---------------------------------------------------------------------


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-set decontamination: flag corpus documents sharing at
    least one word ``n``-gram with a benchmark/eval set, with the count
    of distinct overlapping n-grams — the published pre-training hygiene
    step (GPT-3 appendix C / PaLM / Llama all document n-gram-overlap
    decontamination against eval sets; the reference engine has no
    analogue — pipeline surface beyond SURVEY §2 #30-34).

    Shape: the benchmark's distinct shingle set is BROADCAST — eval sets
    are tiny next to a 100 TB corpus, so the corpus-side shingle stream
    joins map-side with no shuffle of corpus data; the only exchange is
    the per-doc overlap count (map-side combined).  Long n (default 8)
    keeps chance collisions near zero, so the match list is genuinely
    contamination-sized.
    """
    c = word_shingles(corpus, n, text_col, id_col, distinct=True)
    b = (
        word_shingles(benchmark, n, text_col, id_col, distinct=False)
        .select("shingle")
        .distinct()
    )
    return (
        c.join(F.broadcast(b), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.35,
    seed: str = "semdedup",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023 — public method):
    cluster the embedding space, then report near-dup pairs
    (cosine ≥ ``threshold``) WITHIN each cluster — the scale trick is
    that the quadratic search runs per cluster, never corpus-wide.

    This engine-portable variant replaces k-means with deterministic
    seeded assignment so the whole pipeline is oracle-checkable:
    ``n_clusters`` seed vectors are the rows with the smallest
    md5(seed|id) (an engine-portable pseudo-random sample, the
    hash_sample idiom), and every vector joins the seed it has the
    highest cosine to (ties → smallest seed id).  Seeds stay a
    dimension-sized DataFrame end to end — selected with a top-k
    (never collected) and broadcast into the assignment join.

    Shape: one broadcast cross join (n × n_clusters rows) folded by a
    map-side-combinable max_by per vector, then the shared block-pair
    gram machinery (:func:`_blocked_cosine_candidates`) keyed on the
    cluster id, with survivors re-verified in place by the exact
    sequential-fold cosine.  Nothing is quadratic in the corpus; a hot
    cluster parallelizes across block-pair tasks exactly like a hot
    LSH bucket.

    Output: cluster_id (seed vec id), id_a, id_b, cosine (6dp).
    """
    from marketstore_spark.functions.vector import cosine_sim

    e = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    seeds = (
        e.orderBy(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("id").cast("string"))), "id"
        )
        .limit(n_clusters)
        .select(F.col("id").alias("seed_id"), F.col("v").alias("sv"))
        # numeric rank in ascending seed_id order: the tie-break field
        # must be orderable-negated, which a raw id of string type is
        # not (unary minus would NULL-cast it) — rank works for any id
        # type and preserves "smallest seed id wins"
        .withColumn("seed_rank", F.row_number().over(Window.orderBy("seed_id")))
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "id",
        "v",
        "seed_id",
        "seed_rank",
        cosine_sim(F.col("v"), F.col("sv")).alias("cos"),
    )
    # max_by on (cos, -seed_rank): highest cosine wins, ties go to the
    # smallest seed id — combiner-friendly (partial max_by map-side),
    # deterministic on any row order.
    assigned = (
        scored.filter(F.col("cos").isNotNull())
        .groupBy("id")
        .agg(
            F.max_by(
                "seed_id", F.struct(F.col("cos"), (-F.col("seed_rank")).alias("ns"))
            ).alias("bucket"),
            F.first("v").alias("v"),
        )
        .select("bucket", "id", "v")
    )
    cand = _blocked_cosine_candidates(assigned, threshold - 1e-6)
    return (
        cand.withColumn("cosine", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("bucket").alias("cluster_id"),
            "id_a",
            "id_b",
            F.round("cosine", 6).alias("cosine"),
        )
    )


def semantic_dedup_keep(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.35,
    seed: str = "semdedup",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup's end product: the KEEP list.  A vector is dropped iff
    it appears as the larger id of some within-cluster near-dup pair —
    the same greedy min-id-survives reduction as :func:`keep_list`
    (one distinct + one anti join; the corpus side never shuffles for
    the reduction), applied to :func:`semantic_dedup_pairs`.
    """
    pairs = semantic_dedup_pairs(
        df, n_clusters, threshold, seed, id_col, vec_col
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return keep_list(df, pairs, id_col=id_col)


def dup_size_histogram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-cluster size histogram — the corpus-health summary a
    dedup pass reports before anything is dropped: for each exact-
    duplicate cluster size, how many clusters have that size and how
    many documents they hold (so `docs − clusters` summed over sizes
    ≥ 2 is exactly the removable-duplicate count).

    Second-order aggregation (wordcount-of-wordcount): the
    ``exact_dedup_groups`` content-hash aggregate, then a #sizes-row
    rollup — two combiner-friendly hash shuffles, the second over a
    table already reduced to distinct-content scale.  All counts are
    exact LONGs.
    """
    groups = exact_dedup_groups(df, text_col=text_col, id_col=id_col)
    return (
        groups.groupBy(F.col("n_docs").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n_docs").alias("n_docs_total"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs_total",
            (F.col("n_docs_total") - F.col("n_clusters")).alias("n_removable"),
        )
    )


def benchmark_coverage(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination from the BENCHMARK's side: for every eval
    document, the fraction of its distinct word ``n``-grams that
    appear ANYWHERE in the corpus — the "is my eval compromised"
    summary read next to :func:`benchmark_overlap`'s per-corpus-doc
    flags (the published convention reports both: corpus docs to drop
    AND eval items considered burned, e.g. GPT-3 appendix C's "dirty"
    eval splits).

    Shape (100 TB): the benchmark shingle table (tiny) BROADCASTS into
    the corpus shingle stream — the corpus side is built with
    ``distinct=False`` so it never shuffles at all (multiplicity is
    collapsed AFTER the join, where only MATCHED rows — contamination-
    scale — reach the dedupe and count shuffles).  Zero-coverage eval
    docs re-enter through the totals left-join, so the report is
    always benchmark-complete.
    """
    b = word_shingles(benchmark, n, text_col, id_col, distinct=True).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    totals = b.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    c = word_shingles(corpus, n, text_col, id_col, distinct=False).select("shingle")
    matched = (
        c.join(F.broadcast(b), "shingle")
        .select("bench_id", "shingle")
        .distinct()
        .groupBy("bench_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    # matched ⊆ totals keys and both are bench-scale; broadcast the
    # smaller side so the outer stitch never sort-merges
    joined = totals.join(F.broadcast(matched), "bench_id", "left")
    nm = F.coalesce(F.col("n_matched"), F.lit(0))
    return joined.select(
        "bench_id",
        "n_shingles",
        nm.alias("n_matched"),
        (nm.cast("double") / F.col("n_shingles").cast("double")).alias("coverage"),
    )


def dedup_rate_by_source(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source exact-duplicate report: document count, distinct
    contents, removable duplicates, and the duplicate RATE — WHICH
    source ships the duplication (:func:`dup_size_histogram` answers
    how big the clusters are; this answers where they come from, the
    ledger a mix designer reads before down-weighting a feed).

    Uses the exact_dedup_groups normalization contract (lowercase,
    whitespace-collapsed md5) so "duplicate" means the same thing
    across all three exact-dedup surfaces.  Distinct contents count
    WITHIN the source — a document repeated across two sources counts
    as distinct in each (cross-source overlap is
    source_token_jaccard's axis).  All counts exact LONGs; the rate is
    one double division.

    Shape (100 TB): one (source, hash) hash aggregate with map-side
    partials — wordcount over content hashes — then a #sources-row
    rollup.  Nothing quadratic, no windows, no joins.
    """
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), _WS, " ")
    per_hash = (
        df.select(F.col(source_col).alias("source"), F.md5(t).alias("__h"))
        .groupBy("source", "__h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_source = per_hash.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") - 1).alias("n_removable"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_distinct",
        "n_removable",
        (
            F.col("n_removable").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


def substring_dup_rate_by_source(
    df: DataFrame,
    k: int = 8,
    min_sites: int = 2,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source SUB-document duplication ledger: what fraction of
    each source's words sits inside a duplicated substring
    (:func:`substring_dup_spans` spans).  dedup_rate_by_source answers
    "which source ships copied documents"; this answers "which source
    ships copied PASSAGES" — the number a mix designer reads when a
    feed's pages are distinct but their content is boilerplate.

    Returns (source, n_docs, total_words, dup_span_words,
    dup_word_rate): maximal duplicated spans are disjoint within a
    doc, so ``dup_span_words`` is an exact word count and the rate is
    one double division.

    Shape (100 TB): the span pipeline (see substring_dup_spans) plus
    one narrow word-count aggregate per source and one doc-keyed join
    of the (already tiny) span rollup — nothing quadratic.
    """
    words = F.split(F.trim(F.col(text_col)), _WS)
    totals = (
        df.select(
            F.col(source_col).alias("source"),
            F.col(id_col).alias("doc_id"),
            F.when(F.trim(F.col(text_col)) == "", F.lit(0))
            .otherwise(F.size(words))
            .cast("long")
            .alias("n_words"),
        )
    )
    spans = substring_dup_spans(
        df, k=k, min_sites=min_sites, text_col=text_col, id_col=id_col
    )
    per_doc_dup = spans.groupBy("doc_id").agg(
        F.sum("width_words").alias("dup_words")
    )
    joined = totals.join(per_doc_dup, "doc_id", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum(F.coalesce(F.col("dup_words"), F.lit(0))).alias("dup_span_words"),
        )
        .select(
            "source",
            "n_docs",
            "total_words",
            "dup_span_words",
            (
                F.col("dup_span_words").cast("double")
                / F.col("total_words").cast("double")
            ).alias("dup_word_rate"),
        )
    )


def ngram_novelty_by_source(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source n-gram NOVELTY ledger: what fraction of a source's
    distinct n-grams appear there FIRST (first occurrence = minimum
    doc id — the deterministic ingestion-order convention used by the
    exact-dedup keep rules).  A feed that mostly re-states n-grams
    already in the corpus adds little new text even when its documents
    hash as distinct — the novelty complement to the duplication
    ledgers (dedup_rate_by_source counts copied docs,
    dedup_substring_rate copied passages, this one re-stated phrasing).

    Scale shape: ONE fact scan (r10 re-plan; the old two-aggregate
    form scanned the corpus twice — column pruning makes the branches'
    exchanges differ, so ReusedExchange never fires across a join,
    runtime-audited).  Grams dedup row-side (``array_distinct`` over
    one document's gram array), the gram stream shuffles once on
    shingle where a ``min(doc_id)`` window attaches each gram's first
    occurrence (the window's row container spills for hot grams — the
    posting-list rule), and ONE (doc, source) aggregate then counts
    totals and min-credited novel grams together; the source rollup is
    a second tiny exchange.  No join-back, no posting lists, nothing
    quadratic.
    """
    # word_shingles keeps only (doc_id, shingle); rebuild the same
    # projection with source attached so no join-back rescans the fact
    words = F.split(F.trim(F.col(text_col)), _WS)
    k = F.size(words) - (n - 1)
    grams = F.array_distinct(_sliding_grams(words, n, k))
    base = spread_for_narrow_work(df, id_col, heavy=True)
    sh = (
        base.filter(F.trim(F.col(text_col)) != "")
        .filter(k >= 1)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.explode(grams).alias("shingle"),
        )
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("shingle"))
    per_doc = (
        sh.withColumn("first_doc", first_doc)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("grams"),
            F.count(F.when(F.col("doc_id") == F.col("first_doc"), 1)).alias(
                "novel"
            ),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("grams").alias("total_grams"),
            F.sum("novel").alias("novel_grams"),
        )
        .select(
            "source",
            "n_docs",
            "total_grams",
            "novel_grams",
            (
                F.col("novel_grams").cast("double")
                / F.col("total_grams").cast("double")
            ).alias("novelty_rate"),
        )
    )


def dedup_funnel(
    df: DataFrame,
    k: int = 8,
    span_rate: float = 0.3,
    jaccard_n: int = 3,
    jaccard_threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup-family CAPSTONE: one attrition table showing how many
    documents (and words) each dedup stage would remove, cumulatively —
    the report a mix designer reads before choosing which stages to
    run (published pipelines lead with exactly this table).

    Stage membership is computed on the FULL corpus and removal
    credits the FIRST applicable stage (exact → substring-heavy →
    near-dup), so the stages sum to a well-defined partition:

    1. ``exact`` — not the minimum doc id of its normalized content
       hash (the exact_dedup_groups keep rule);
    2. ``substring`` — ≥ ``span_rate`` of the doc's words sit inside a
       duplicated substring span (:func:`substring_dup_spans`);
    3. ``neardup`` — the larger-id member of any n-gram Jaccard pair
       at ≥ ``jaccard_threshold`` (:func:`ngram_jaccard_pairs`).

    Shape (100 TB): the three flags reuse the component operators'
    scale shapes verbatim; the stitches are doc-grain left joins of
    the (small) flag tables onto one base projection, then a SINGLE
    one-row aggregate inlined to three stage rows (the filter_funnel
    contract — always well-formed, even on an empty corpus).
    """
    t = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(t)), _WS, " ")
    n_words = F.when(F.trim(t) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), _WS))
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        F.md5(norm).alias("__h"),
    )
    wh = Window.partitionBy("__h")
    flagged = base.withColumn(
        "__exact", F.col("doc_id") != F.min("doc_id").over(wh)
    ).drop("__h")
    dupw = (
        substring_dup_spans(df, k=k, text_col=text_col, id_col=id_col)
        .groupBy("doc_id")
        .agg(F.sum("width_words").alias("__dup_words"))
    )
    near = (
        ngram_jaccard_pairs(
            df,
            n=jaccard_n,
            threshold=jaccard_threshold,
            max_doc_freq=max_doc_freq,
            text_col=text_col,
            id_col=id_col,
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(1))
    )
    nz = F.when(F.col("n_words") == 0, F.lit(None)).otherwise(F.col("n_words"))
    staged = (
        flagged.join(dupw, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "n_words",
            F.when(F.col("__exact"), F.lit(1))
            .when(
                F.coalesce(F.col("__dup_words").cast("double") / nz, F.lit(0.0))
                >= float(span_rate),
                F.lit(2),
            )
            .when(F.col("__nd").isNotNull(), F.lit(3))
            .otherwise(F.lit(0))
            .alias("__stage"),
        )
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.coalesce(F.sum("n_words"), F.lit(0)).cast("long").alias("total_words"),
    ]
    for i in (1, 2, 3):
        aggs.append(
            F.count(F.when(F.col("__stage") == i, F.lit(1)))
            .cast("long")
            .alias(f"d{i}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("__stage") == i, F.col("n_words"))), F.lit(0))
            .cast("long")
            .alias(f"w{i}")
        )
    one = staged.agg(*aggs)
    names = {1: "exact", 2: "substring", 3: "neardup"}
    rows = []
    dsum = F.lit(0)
    wsum = F.lit(0)
    for i in (1, 2, 3):
        dsum = dsum + F.col(f"d{i}")
        wsum = wsum + F.col(f"w{i}")
        rows.append(
            F.struct(
                F.lit(i).cast("long").alias("stage"),
                F.lit(names[i]).alias("stage_name"),
                F.col(f"d{i}").alias("docs_removed"),
                (F.col("total_docs") - dsum).cast("long").alias("docs_remaining"),
                (F.col("total_words") - wsum).cast("long").alias("words_remaining"),
            )
        )
    return one.select(F.inline(F.array(*rows)))
