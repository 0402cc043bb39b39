"""Similarity search over embedding columns (SURVEY §2 #35-36).

- Brute-force cosine top-k: the exact baseline.  The (small) query set
  is broadcast against the corpus — a map-side join, one shuffle for
  the per-query top-k window.  At 100 TB the corpus side stays
  partitioned; only k rows per query cross the wire after the local
  rank prune.
- LSH (random-hyperplane) bucketed top-k: the approximate scale path.
  Hyperplane signs are md5-derived (deterministic, engine-portable);
  candidates are restricted to the query's bucket (and optionally
  neighboring buckets by flipping one bit).

Vector math is JVM-side (zip_with/aggregate) — see functions/vector.py —
except the k-means E-step and the brute-force top-k scorer, which score
batches against a collected dims-scale matrix (centroids / the query
slice) in one vectorized Arrow hop each (see _estep_fn /
_brute_score_fn); both reproduce the JVM fold's arithmetic bit-exactly.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from marketstore_spark.functions.layout import spread_for_narrow_work
from marketstore_spark.functions.vector import cosine_sim


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _scored_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    q_extra: dict[str, str] | None = None,
    c_extra: dict[str, str] | None = None,
) -> DataFrame:
    """Shared exact-cosine top-k core (brute_force_topk and
    knn_label_eval).

    The query slice is dims-scale by contract (a handful of probe
    vectors), so it is COLLECTED once at plan build — the
    _centroid_groups / IVF-centroid precedent, computed fresh from the
    inputs on every invocation — and closure-shipped into ONE
    vectorized Arrow hop (guide §4.2) that scores every query against
    each corpus batch.  This replaces the broadcast crossJoin whose
    per-pair interpreted ``zip_with`` dot fold was the measured cost
    center (one CodegenFallback lambda dispatch plus an intermediate
    array allocation per element per pair).  Cosines stay BIT-EXACT:
    the kernel accumulates dim-by-dim in float64 (``acc += x_d * y_d``,
    one IEEE multiply + one IEEE add per element in index order —
    numpy does not fuse), which is the exact operation sequence of the
    JVM ``aggregate(zip_with(a, b, x*y), 0.0, acc+x)`` fold it
    replaces, so ranks and the 6-dp output cannot move.

    The rank prune stays in the JVM: the per-query top-k window runs
    over the hop's output, where WindowGroupLimit prunes each task to
    its local top-k before the single exchange (only k rows per query
    per task cross the wire — unchanged from the crossJoin plan).
    Null semantics reproduce the fold: null/ragged/zero-norm/
    null-element pairs score NULL (nulls sort last under the
    descending order); NaN-poisoned input vectors — which the old
    fold's Spark-NaN total ordering would have ranked FIRST — are
    treated as unscorable NULL like _estep_fn does (NaN is not a
    cosine; the contract excludes it).

    ``q_extra``/``c_extra`` map source→output column names that ride
    through the scoring hop (e.g. labels) so callers never re-join the
    corpus to recover them.  Self-matches are always excluded.
    Output: query_id, neighbor_id, extras, cos_raw, rank.
    """
    q_extra = q_extra or {}
    c_extra = c_extra or {}
    qrows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(vec_col).alias("qv"),
            *[F.col(s).alias(d) for s, d in q_extra.items()],
        )
        .collect()
    )
    qmeta = []
    for r in qrows:
        qv = r["qv"]
        if qv is not None:
            # null elements -> NaN cells: the pair scores NULL either
            # way (the fold's null-product outcome)
            qv = np.array(
                [np.nan if x is None else float(x) for x in qv],
                dtype=np.float64,
            )
        qmeta.append(
            (r["query_id"], tuple(r[d] for d in q_extra.values()), qv)
        )
    qx_fields = [
        T.StructField(d, queries.schema[s].dataType)
        for s, d in q_extra.items()
    ]
    cx_fields = [
        T.StructField(d, corpus.schema[s].dataType)
        for s, d in c_extra.items()
    ]
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            *qx_fields,
            *cx_fields,
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )
    fn = _brute_score_fn(
        qmeta, [f.name for f in qx_fields], [f.name for f in cx_fields]
    )
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        *[F.col(s).alias(d) for s, d in c_extra.items()],
    ).mapInPandas(fn, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _brute_score_fn(qmeta, qx_names, cx_names):
    """Arrow-batch brute-force scorer for _scored_topk.

    ``qmeta``: list of (query_id, q_extra values, float64 vector or
    None).  Scorable queries are grouped by vector length (a cosine
    against a different-length vector is NULL under zip_with padding
    semantics, exactly like _centroid_groups); each corpus batch is
    scored against every same-length query with a sequential dim-loop
    (bit-exact vs the JVM fold — see _scored_topk).  Every
    (corpus row, query) pair except self-matches is emitted, with
    non-finite cosines emitted as NULL (NaN→null on the Arrow
    boundary), preserving the crossJoin's candidate set."""
    by_len: dict[int, list[int]] = {}
    for i, (_qid, _qx, qv) in enumerate(qmeta):
        if qv is not None:
            by_len.setdefault(len(qv), []).append(i)
    groups = {}
    for length, idxs in by_len.items():
        Q = np.stack([qmeta[i][2] for i in idxs])  # (nq_group, length)
        qn = np.zeros(len(idxs))
        for d in range(length):
            qn = qn + Q[:, d] * Q[:, d]
        groups[length] = (np.asarray(idxs), Q, np.sqrt(qn))

    nq = len(qmeta)
    qids = [m[0] for m in qmeta]
    try:
        qid_arr = np.asarray(qids)
        if qid_arr.dtype == object:
            qid_arr = None
    except (TypeError, ValueError):  # mixed/unhashable id types
        qid_arr = None

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            vecs = pdf["cv"].values
            ids = pdf["neighbor_id"].values
            lens = np.fromiter(
                ((-1 if v is None else len(v)) for v in vecs),
                dtype=np.int64,
                count=n,
            )
            cosm = np.full((n, nq), np.nan)
            for length, (qsel, Q, qn) in groups.items():
                rsel = np.flatnonzero(lens == length)
                if rsel.size == 0:
                    continue
                try:
                    V = np.stack(
                        [np.asarray(vecs[i], dtype=np.float64) for i in rsel]
                    )
                except (TypeError, ValueError):  # null elements inside
                    V = np.array(
                        [
                            [np.nan if x is None else float(x) for x in vecs[i]]
                            for i in rsel
                        ],
                        dtype=np.float64,
                    )
                acc = np.zeros((rsel.size, qsel.size))
                cn = np.zeros(rsel.size)
                for d in range(length):
                    col = V[:, d]
                    cn = cn + col * col
                    acc = acc + col[:, None] * Q[None, :, d]
                cn = np.sqrt(cn)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cosm[np.ix_(rsel, qsel)] = acc / (cn[:, None] * qn[None, :])
            # flatten query-major; drop self-matches
            colq = np.repeat(np.arange(nq), n)
            rown = np.tile(np.arange(n), nq)
            if qid_arr is not None and qid_arr.dtype.kind in "iuf":
                keep = ids[rown] != qid_arr[colq]
            else:
                keep = np.ones(n * nq, dtype=bool)
                for j, qid in enumerate(qids):
                    keep[j * n : (j + 1) * n] = ids != qid
            colq = colq[keep]
            rown = rown[keep]
            cflat = cosm[rown, colq]
            cser = pd.Series(cflat)
            cser[~np.isfinite(cflat)] = None
            data = {
                "query_id": pd.Series(
                    qid_arr[colq] if qid_arr is not None
                    else [qids[j] for j in colq]
                ),
                "neighbor_id": pd.Series(ids[rown]),
            }
            for kx, name in enumerate(qx_names):
                data[name] = pd.Series([qmeta[j][1][kx] for j in colq])
            for name in cx_names:
                data[name] = pd.Series(pdf[name].values[rown])
            data["cos_raw"] = cser
            yield pd.DataFrame(data)

    return fn


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus
    vectors (self-matches excluded).  Output: query_id, neighbor_id,
    cosine (rounded 6dp), rank."""
    return _scored_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", 6).alias("cosine"),
        "rank",
    )


def _plane_component(seed: str, p: int, i: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1):
    (md5-derived 60-bit int / 2^59) - 1.  Pure Python md5 — identical
    value on any engine, computed ONCE per (seed, plane, dim) on the
    driver, never per row."""
    import hashlib

    h = hashlib.md5(f"{seed}|{p}|{i}".encode()).hexdigest()[:15]
    return int(h, 16) / float(2**59) - 1.0


@lru_cache(maxsize=None)
def _plane_matrix(num_planes: int, num_tables: int, dim: int) -> "np.ndarray":
    """dim × tables·planes hyperplane matrix from the md5 derivation —
    pure function of its arguments, so executors rebuild the identical
    matrix locally (lru-cached per worker; no broadcast needed)."""
    return np.array(
        [
            [_plane_component(f"lsh{t}", p, i) for t in range(num_tables) for p in range(num_planes)]
            for i in range(dim)
        ]
    )


def _bucket_assigner(num_planes: int, num_tables: int, id_col: str, vec_col: str):
    """Returns with_buckets(df, out_id, out_vec) → (id, vec, bucket)
    rows, one per hash table.

    The per-row work is one numpy matmul in an Arrow-batched pandas
    UDF.  This is the sanctioned Pandas-UDF case (SURVEY §6): Spark's
    higher-order functions evaluate the lambda per element interpreted,
    which loses to BLAS by ~100× on wide embeddings; results are
    identical except sign flips on exactly-zero dots (measure-zero; LSH
    outputs are recall-checked, not oracle-hashed).

    The plane matrix is derived lazily from the first batch's vector
    width (``_plane_matrix``): callers don't pay a driver-side
    ``select(size(vec)).first()`` job, and no repartition is imposed —
    a 100 TB parquet scan arrives pre-split by maxPartitionBytes, and
    funneling it through an exchange (or fragmenting a small input into
    core-count Arrow batches) only adds cost."""

    @F.pandas_udf("array<string>")
    def buckets_udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        planes = _plane_matrix(num_planes, num_tables, mat.shape[1])
        signs = (mat @ planes) >= 0
        out = []
        for row in signs:
            bits = "".join("1" if b else "0" for b in row)
            out.append(
                [
                    f"{t}:" + bits[t * num_planes : (t + 1) * num_planes]
                    for t in range(num_tables)
                ]
            )
        return pd.Series(out)

    def with_buckets(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.explode(buckets_udf(_as_double(vec_col))).alias("bucket"),
        )

    return with_buckets


def _spherical_kmeans(sample: np.ndarray, nlist: int, iters: int = 10) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample.

    Rows are L2-normalized; init takes ``nlist`` evenly-spaced rows of the
    (id-ordered) sample — no RNG, so the index is reproducible across
    runs and engines.  Lloyd iterations assign by dot product and
    re-normalize the mean; an emptied list keeps its previous centroid.
    The sample is small (≤ a few thousand rows), so this is O(ms) on the
    driver — the cluster never sees the training loop.
    """
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.maximum(norms, 1e-12)
    n = x.shape[0]
    if n <= nlist:
        return x
    cent = x[np.linspace(0, n - 1, nlist).astype(int)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(nlist):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                cent[j] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
) -> np.ndarray:
    """Coarse-quantizer training for IVF: a deterministic sample (first
    ``sample_cap`` rows by id — per-partition top-N + driver merge, no
    global sort) feeds driver-side spherical k-means.  At 100 TB the
    sample is the standard IVF recipe: centroid quality needs O(nlist·
    ~100) training points, not the corpus."""
    rows = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .sort(id_col)
        .limit(sample_cap)
        .collect()
    )
    return _spherical_kmeans(np.array([r["v"] for r in rows], dtype=np.float64), nlist)


def _ivf_prober(centroids: np.ndarray, nprobe: int):
    """Arrow-batched assignment against the broadcast centroid matrix:
    one numpy matmul per batch, ``nprobe`` nearest lists per row
    (sanctioned Pandas-UDF case — BLAS beats per-element higher-order
    functions on wide embeddings, and list ids are recall-checked, not
    oracle-hashed)."""

    @F.pandas_udf("array<int>")
    def probe_udf(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ centroids.T
        order = np.argsort(-sims, kind="stable", axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe_udf


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k — the second ANN scale path next to
    :func:`lsh_topk` (SURVEY §2 #36).

    Index: every corpus vector lands in exactly ONE inverted list (its
    nearest centroid).  Search: each query probes its ``nprobe`` nearest
    lists; candidates are re-ranked by exact cosine.  Scale shape:
    centroids broadcast (nlist × dim floats), assignment is map-side,
    and the only shuffle is the list-id join — candidate volume is
    ~nprobe/nlist of the corpus per query instead of O(n).  At 100 TB
    build the persisted layout instead (:func:`build_ivf_index` /
    :func:`ivf_topk_indexed`): the corpus lands partitioned by list id
    and repeated queries skip the assignment scan entirely via
    partition pruning.  Recall/latency knobs:
    raise ``nprobe`` (linear candidate growth) or ``nlist`` (finer
    lists, cheaper probes).  Recall vs brute force is pinned in pytest.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, nlist, id_col, vec_col)
    assign1 = _ivf_prober(centroids, 1)
    assignp = _ivf_prober(centroids, nprobe)
    # Size-gated spread instead of an unconditional repartition (r14):
    # at 100 TB the scan's own splits already cover the cluster, so the
    # unconditional ``repartition(defaultParallelism)`` shuffled the
    # ENTIRE embedding table for nothing — the gate no-ops there.
    # heavy=True because the stage this parallelizes is NOT just the
    # BLAS assignment batch: the same narrow chain carries the
    # broadcast-join fan-out and the per-candidate interpreted-HOF
    # cosine (~nprobe/nlist × corpus × dim lambda ops), which
    # serializes on a single small-file split otherwise (measured:
    # gating the spread off at sf0.1 costs ~10% on ann_ivf).
    c = (
        spread_for_narrow_work(corpus, heavy=True)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("cv"),
        )
        .withColumn("list_id", F.element_at(assign1(F.col("cv")), 1))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("list_id", F.explode(assignp(F.col("qv"))))
    cand = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
    )


IVF_INDEX_BUCKET = "ANN/IVF/INDEX"
IVF_CENTROID_BUCKET = "ANN/IVF/CENTROIDS"


def build_ivf_index(
    catalog,
    corpus: DataFrame,
    index_key: str = IVF_INDEX_BUCKET,
    centroid_key: str = IVF_CENTROID_BUCKET,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Materialize the IVF index INTO the bucket store: the corpus is
    written partitioned by inverted-list id, and the centroids land in
    a sidecar bucket.  This is the 100 TB steady state the ivf_topk
    docstring promises — assignment runs once at build time, and every
    later query turns its probe set into PARTITION PRUNING on the
    scan: only nprobe/nlist of the corpus files are ever opened.
    Returns the centroid matrix."""
    from marketstore_spark import txn
    from marketstore_spark.catalog import TimeBucketKey

    centroids = train_ivf_centroids(corpus, nlist, id_col, vec_col)
    assign1 = _ivf_prober(centroids, 1)
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col),
        F.element_at(assign1(_as_double(vec_col)), 1).alias("list_id"),
    )
    txn.commit_write(
        assigned,
        TimeBucketKey(index_key).path(catalog.root),
        mode="replace",
        partition_by=("list_id",),
    )
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "list_id int, centroid array<double>",
    )
    txn.commit_write(
        cdf.coalesce(1), TimeBucketKey(centroid_key).path(catalog.root), mode="replace"
    )
    return centroids


def load_ivf_centroids(catalog, centroid_key: str = IVF_CENTROID_BUCKET) -> np.ndarray:
    rows = catalog.read(centroid_key).orderBy("list_id").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_topk_indexed(
    catalog,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    index_key: str = IVF_INDEX_BUCKET,
    centroid_key: str = IVF_CENTROID_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over the persisted IVF index.  The query batch is small by
    definition, so its probed list ids collect to a LITERAL in-filter —
    static partition pruning the scan provably honors (PartitionFilters
    in explain; the plan test pins it) — then candidates re-rank by
    exact cosine exactly as the ad-hoc path does."""
    centroids = load_ivf_centroids(catalog, centroid_key)
    assignp = _ivf_prober(centroids, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("list_id", F.explode(assignp(F.col("qv"))))
    probe_rows = q.select("query_id", "qv", "list_id").collect()
    probed_lists = sorted({r["list_id"] for r in probe_rows})

    corpus = catalog.read(index_key).filter(F.col("list_id").isin(probed_lists))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        F.col("list_id"),
    )
    spark = queries.sparkSession
    qdf = spark.createDataFrame(
        [(r["query_id"], r["qv"], r["list_id"]) for r in probe_rows],
        "query_id long, qv array<double>, list_id int",
    )
    cand = (
        c.join(F.broadcast(qdf), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with OR-amplification: ``num_tables``
    independent hash tables of ``num_planes`` hyperplanes each; a corpus
    vector is a candidate if it shares a bucket with the query in ANY
    table.  Recall rises with more tables / fewer planes at the cost of
    candidate volume — the standard LSH tuning surface.  The pytest
    suite measures recall against brute force."""
    with_buckets = _bucket_assigner(num_planes, num_tables, id_col, vec_col)
    csig = with_buckets(corpus, "vec_id", vec_col)
    qsig = with_buckets(queries, "query_id", "qvec")
    cand = (
        csig.join(F.broadcast(qsig), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qvec", "vec_id", vec_col)
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_sim(_as_double(vec_col), F.transform(F.col("qvec"), lambda x: x.cast("double"))).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
    )


def knn_label_eval(
    emb: DataFrame,
    k: int = 5,
    test_mod: int = 5,
    max_test_id: int = 250,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label prediction accuracy — the standard embedding-quality
    evaluation a training-data pipeline runs over its vector column:
    hold out a deterministic test slice (``id % test_mod == 0`` below
    ``max_test_id``), predict each held-out vector's label by majority
    vote of its ``k`` nearest TRAIN vectors (cosine), and emit per-row
    truth vs prediction.  Output: vec_id, label, pred, correct.

    Scale shape: one corpus scan.  The query slice is broadcast
    (brute_force_topk's posture) and the neighbor's label RIDES THROUGH
    the scoring projection, so no second corpus scan or re-join to
    recover labels.  The per-query top-k rank prune happens in the
    one shuffle; votes and the argmax are dims-scale (#test × k rows).
    Ties: equal cosine ranks by neighbor id (brute_force_topk's rule);
    equal vote counts pick the smallest label (struct-max on
    (count, -label)) — deterministic end to end.  At 100 TB swap the
    brute-force scorer for the IVF probe (same vote/argmax tail).
    """
    vid = F.col(id_col)
    is_test = ((vid % test_mod) == 0) & (vid < max_test_id)
    topk = _scored_topk(
        emb.filter((vid % test_mod) != 0),
        emb.filter(is_test),
        k,
        id_col,
        vec_col,
        q_extra={label_col: "label"},
        c_extra={label_col: "nlabel"},
    )
    votes = topk.groupBy("query_id", "label", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    best = votes.groupBy("query_id", "label").agg(
        F.max(
            F.struct(F.col("votes"), (-F.col("nlabel")).alias("neg_label"))
        ).alias("__b")
    )
    return best.select(
        F.col("query_id").alias("vec_id"),
        "label",
        (-F.col("__b.neg_label")).cast("int").alias("pred"),
        (F.col("label") == -F.col("__b.neg_label")).cast("int").alias("correct"),
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means E-step: assign EVERY vector to its highest-
    cosine centroid.  The per-iteration workhorse of embedding-space
    clustering (topic balancing, SemDeDup-style cluster pruning,
    IVF coarse quantization — _spherical_kmeans runs this same step
    driver-side over a bounded sample; this is the full-corpus
    distributed form).

    ``centroids`` defaults to the ``k`` lowest-id vectors — a
    deterministic, engine-portable seed choice (k-means++ etc. need a
    random stream; a caller mid-Lloyd passes its own centroid frame).
    NOTE: an oracle that expresses the same seed as ``vec_id < k``
    only coincides when ids are 0-based contiguous; the registered
    query's oracle uses the order-by-id form for exactly this reason.

    Cross-engine determinism: the argmax compares the cosine on the
    12-dp grid, not the raw float — two engines' dot products can
    differ by an ulp, and on near-tied centroids a raw-float argmax
    would flip the assigned cluster between engines.  12 dp is far
    below any semantically meaningful cosine gap and far above ulp
    noise (~2e-16), so both engines pick on identical keys.

    Plan (guide §4.2): the centroid table is dims-scale, so it is
    COLLECTED once at plan build (k rows — the IVF-centroid
    precedent) and closure-shipped into ONE vectorized Arrow hop
    (mapInPandas): each batch scores all k cosines with one float64
    matmul and argmaxes on the grid key.  The corpus never joins,
    never aggregates, never shuffles — the executed plan is
    scan → project → MapInPandas, zero exchanges — and the per-row
    cost is a numpy flop instead of the interpreted higher-order-
    function fold it replaces (measured 50x per-row at sf0.1: the
    zip_with dot allocates an intermediate array per centroid per row
    and CodegenFallback-dispatches the lambda per element).  The
    winner's 6-dp output rounding stays in the JVM (F.round HALF_UP,
    unchanged).
    """
    spark = df.sparkSession
    groups = _centroid_groups(df, k, centroids, id_col, vec_col)
    id_type = df.schema[id_col].dataType
    cl_type = (df if centroids is None else centroids).schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("cluster", cl_type),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )
    if not groups:
        return spark.createDataFrame([], out_schema).select(
            "vec_id", "cluster", F.round("cos_raw", 6).alias("cosine")
        )
    fn = _estep_fn(groups, mstep=False)
    raw = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(fn, out_schema)
    return raw.select(
        "vec_id", "cluster", F.round("cos_raw", 6).alias("cosine")
    )


def _centroid_groups(
    df: DataFrame,
    k: int,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
):
    """Collect the dims-scale centroid frame (k rows — the same
    plan-build-time collect the IVF index uses for ITS centroids) into
    numpy, grouped BY VECTOR LENGTH: a cosine against a centroid of a
    different length is NULL under the SQL zip_with semantics, so
    scoring each row only against same-length centroids reproduces the
    old fold exactly while letting each group be a dense matrix.

    Default seeds are the ``k`` lowest-id rows, taken with a terminal
    orderBy(id).limit(k) — TakeOrderedAndProject, a per-partition
    top-k; no range-shuffle of the payload ever plans.  Returns
    {length: (ids_sorted_asc, C, cn)}; empty dict for no usable
    centroids (every caller then short-circuits to an empty frame,
    which is what the old crossJoin-with-empty-broadcast produced).
    """
    if centroids is None:
        rows = (
            df.select(F.col(id_col).alias("c"), F.col(vec_col).alias("v"))
            .orderBy("c")
            .limit(int(k))
            .collect()
        )
    else:
        rows = centroids.select(
            F.col(id_col).alias("c"), F.col(vec_col).alias("v")
        ).collect()
    byl: dict[int, list] = {}
    for r in rows:
        if r["v"] is None or r["c"] is None:
            continue  # null centroid vector/id scores NULL everywhere
        byl.setdefault(len(r["v"]), []).append(r)
    groups = {}
    for length, rs in byl.items():
        rs.sort(key=lambda r: r["c"])  # ties -> smallest cluster id
        ids = np.asarray([r["c"] for r in rs])
        C = np.array(
            [
                [np.nan if x is None else float(x) for x in r["v"]]
                for r in rs
            ],
            dtype=np.float64,
        )
        cn = np.sqrt((C * C).sum(axis=1))
        groups[length] = (ids, C, cn)
    return groups


def _estep_fn(groups, mstep: bool):
    """Arrow-batch E-step kernel shared by kmeans_assign (per-row
    winners) and kmeans_update (per-batch quantized partial sums).

    Exact-pick policy: winner = max 12-dp-grid cosine, ties ->
    smallest cluster id (groups are id-sorted and np.argmax returns
    the first maximum).  The grid key floor(cos*1e12 + 0.5) is the
    same integer the JVM fold compared — cos*1e12 sits within ~1e-3
    of the true grid integer, far inside the +-0.5 floor window
    except for data EXACTLY on a half-grid boundary, which the
    engine-portability contract already excludes (the DuckDB oracle's
    independently-ordered float sums have pinned hash parity on this
    grid for twelve rounds).  Degenerate rows — null/ragged vectors,
    zero norms, non-finite cosines — score NULL for every centroid
    and are dropped, exactly the old fold's null outcome (NaN inputs,
    which the fold's Spark-NaN total ordering let WIN an argmax, are
    likewise treated as unscorable here; NaN is not a cosine).

    The M-step partial quantizes kept rows with floor(x*1e6 + 0.5) —
    bit-identical to the JVM expression on the same doubles — and
    sums per (cluster, dim) in int64 per batch (overflow needs
    |x| >= 2^63 / (1e6 * batch_rows) ~ 9e8 at the 10k default Arrow
    batch — no real embedding component approaches it); the global
    DECIMAL(38,0) sum across batches stays in the JVM.
    """

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf["__v"].values
            lens = np.fromiter(
                ((-1 if v is None else len(v)) for v in vecs),
                dtype=np.int64,
                count=len(vecs),
            )
            for length, (ids, C, cn) in groups.items():
                sel = np.flatnonzero(lens == length)
                if sel.size == 0:
                    continue
                V = np.array(
                    [np.asarray(vecs[i], dtype=np.float64) for i in sel]
                )
                qn = np.sqrt((V * V).sum(axis=1))
                den = qn[:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (V @ C.T) / den
                    cos[den == 0.0] = np.nan
                    g = np.floor(cos * 1e12 + 0.5)
                g[~np.isfinite(cos)] = -np.inf
                best = np.argmax(g, axis=1)
                ok = np.isfinite(g[np.arange(len(best)), best])
                if not ok.any():
                    continue
                if not mstep:
                    kept = np.flatnonzero(ok)
                    yield pd.DataFrame(
                        {
                            "vec_id": pdf["__id"].values[sel[kept]],
                            "cluster": ids[best[kept]],
                            "cos_raw": cos[kept, best[kept]],
                        }
                    )
                else:
                    Vq = np.floor(V * 1e6 + 0.5).astype(np.int64)
                    dims = np.arange(length, dtype=np.int64)
                    for ci in np.unique(best[ok]):
                        m = ok & (best == ci)
                        yield pd.DataFrame(
                            {
                                "cluster": ids[ci],
                                "dim": dims,
                                "n": int(m.sum()),
                                "s": Vq[m].sum(axis=0),
                            }
                        )

    return fn


def kmeans_update(
    df: DataFrame,
    k: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means M-STEP with engine-exact arithmetic: assign every
    vector (the kmeans_assign E-step, same 12-dp-grid argmax), then
    recompute each cluster's centroid as the component-wise mean of
    its members — emitted FLAT as (cluster, dim, n_members,
    centroid_comp) so the contract is a plain comparable table
    (``kmeans_centroids`` reassembles arrays for the next iteration).

    A float mean over corpus-scale rows is summation-order-dependent
    (the numeric-policy trap), so components are FIXED-POINT
    quantized first: ``floor(x·10⁶ + 0.5)`` — floor is correctly
    rounded on identical double inputs on every engine, unlike
    round-half-up on doubles — summed exactly (int64 partials per
    Arrow batch, DECIMAL(38,0) across batches: a 100 TB cluster's
    component sum clears 2⁶³ only in the global tier, which is
    decimal), and the mean is the one double chain ``(Σq/n)/10⁶``.
    Quantization error is 5e-7 per component — far below any
    clustering-relevant signal.

    Shape — the corpus NEVER shuffles (guide §4.2 + §2): the E-step
    pick AND the per-batch partial aggregation both happen inside one
    vectorized Arrow hop against the closure-shipped centroid matrix
    (see _estep_fn; same kernel as kmeans_assign, asserted equal in
    tests), so each batch emits at most k·d partial rows and the only
    exchange in the plan is the k·d-cell (cluster, dim) hash
    aggregate.  This replaced a JVM higher-order-function fold that
    (a) paid interpreted per-element lambda dispatch on every
    vector × centroid and (b) was evaluated TWICE per row because the
    null-cluster filter's predicate pushdown duplicated the fold
    alias (measured: the old path cost 2x the fold alone; filtering
    after the explode instead hoisted the fold above the Generate —
    64 evaluations per row).
    """
    spark = df.sparkSession
    groups = _centroid_groups(df, k, centroids, id_col, vec_col)
    cl_type = (df if centroids is None else centroids).schema[id_col].dataType
    part_schema = T.StructType(
        [
            T.StructField("cluster", cl_type),
            T.StructField("dim", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
        ]
    )
    if not groups:
        partial = spark.createDataFrame([], part_schema)
    else:
        fn = _estep_fn(groups, mstep=True)
        partial = df.select(F.col(vec_col).alias("__v")).mapInPandas(
            fn, part_schema
        )
    per = partial.groupBy("cluster", "dim").agg(
        F.sum("n").alias("n_members"),
        F.sum(F.col("s").cast("decimal(38,0)")).alias("__sq"),
    )
    mean = (
        F.col("__sq").cast("double") / F.col("n_members").cast("double")
    ) / F.lit(1000000.0)
    return per.select(
        "cluster",
        F.col("dim").cast("long").alias("dim"),
        "n_members",
        mean.alias("centroid_comp"),
    )


def kmeans_centroids(update: DataFrame) -> DataFrame:
    """Reassemble kmeans_update's flat rows into (vec_id, embedding)
    centroid frames consumable by kmeans_assign's ``centroids`` arg —
    the glue that makes full Lloyd iterations a two-call loop."""
    return (
        update.groupBy("cluster")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "centroid_comp"))
            ).alias("__s")
        )
        .select(
            F.col("cluster").alias("vec_id"),
            F.transform(F.col("__s"), lambda s: s["centroid_comp"]).alias(
                "embedding"
            ),
        )
    )


def kmeans_iterate(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Full distributed Lloyd iterations: alternate the E-step
    (:func:`kmeans_assign`) and M-step (:func:`kmeans_update`) from
    the deterministic lowest-id seed, ``iters`` times.  Returns
    ``(assignments, centroids)`` — both lazy DataFrames.

    Each round's centroid frame is the M-step's flat output
    reassembled by :func:`kmeans_centroids`; it is dims-scale (k rows)
    and is CHECKPOINT-FREE on purpose: the lineage grows by one
    broadcast fold per iteration, and ``iters`` is a small constant
    (Lloyd converges in a handful of rounds for coarse quantizers) —
    for long runs a caller can persist the k-row centroid frame
    between rounds, which costs nothing at any corpus scale.

    Deterministic end to end (seed, 12-dp argmax, fixed-point means),
    so two runs — or two ENGINES — produce identical clusters; the
    E/M building blocks are individually oracle-checked, making this
    loop the documented iterative composition (no direct SQL oracle —
    recursive CTEs cannot carry a k×d matrix through float updates).
    """
    if iters <= 0:
        raise ValueError("iters must be positive")
    centroids = None
    for _ in range(int(iters)):
        up = kmeans_update(df, k=k, centroids=centroids, id_col=id_col, vec_col=vec_col)
        cents = kmeans_centroids(up)
        # k rows: materialize eagerly so the next round's plan starts
        # from data, not from a re-execution of every prior round
        centroids = cents.localCheckpoint(eager=True)
    assigned = kmeans_assign(
        df, k=k, centroids=centroids, id_col=id_col, vec_col=vec_col
    )
    return assigned, centroids


# ---------------------------------------------------------------------
# Product quantization (PQ) ANN — the compressed-domain scale path
# ---------------------------------------------------------------------


def _subspace_kmeans(sub: np.ndarray, ksub: int, iters: int = 10) -> np.ndarray:
    """Deterministic plain (L2) k-means for one PQ subspace: init takes
    ``ksub`` evenly-spaced rows of the id-ordered sample (no RNG, so the
    codebook reproduces across runs); Lloyd assigns by min squared
    distance; an emptied cell keeps its previous centroid."""
    n = sub.shape[0]
    if n <= ksub:
        return sub.copy()
    cent = sub[np.linspace(0, n - 1, ksub).astype(int)].copy()
    for _ in range(iters):
        d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j in range(ksub):
            members = sub[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
) -> np.ndarray:
    """PQ codebook training (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): the L2-normalized deterministic
    sample (first ``sample_cap`` rows by id — the train_ivf_centroids
    recipe) splits into ``m`` contiguous subspaces, each quantized by
    its own ``ksub``-cell k-means.  Returns an (m, ksub, dim/m) array.
    At 100 TB the sample suffices — codebook quality needs O(ksub·~100)
    training points per subspace, not the corpus."""
    rows = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .sort(id_col)
        .limit(sample_cap)
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [
            _subspace_kmeans(x[:, s * dsub : (s + 1) * dsub], ksub)
            for s in range(m)
        ]
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k — the COMPRESSED-domain ANN scale path
    next to lsh_topk (bucketing) and ivf_topk (coarse pruning).

    Index: each L2-normalized corpus vector encodes to ``m`` codebook
    cells (``m·log2(ksub)`` bits ≈ 32× smaller than the float vector at
    the defaults on a 64-dim embedding).  Search (asymmetric distance
    computation): each query precomputes an m×ksub table of subspace
    dot products; a corpus row's approximate cosine is ``m`` table
    lookups — no float-vector arithmetic in the scan.  The top
    ``rerank·k`` ADC candidates per query re-rank by EXACT cosine.

    Scale shape: codebooks + query tables broadcast (closure-captured
    constants, dims-scale); the scan is ONE mapInPandas over the corpus
    that encodes, gathers, and emits only each partition's per-query
    local top-``rerank·k`` (map-side prune — candidates crossing the
    wire are partitions·queries·rerank·k, independent of corpus size);
    one window keeps the global candidates; the exact re-rank joins the
    (queries·rerank·k)-row candidate set back to the corpus by id.
    Recall vs brute force is pinned in pytest; raise ``rerank`` or
    ``ksub`` for recall, lower ``m`` for speed.
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m, ksub, id_col, vec_col)
    m_eff, _, dsub = codebooks.shape
    qrows = (
        queries.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .sort(id_col)
        .collect()
    )
    q_ids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # luts[s]: (nq, ksub) — query-subspace dot products with codebook s
    luts = np.stack(
        [
            qmat[:, s * dsub : (s + 1) * dsub] @ codebooks[s].T
            for s in range(m_eff)
        ]
    )
    n_cand = int(rerank) * int(k)
    out_schema = "query_id long, neighbor_id long, adc double"

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["nid"].to_numpy(dtype=np.int64)
            x = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            # encode: per subspace, nearest codebook cell by L2
            scores = np.zeros((len(ids), len(q_ids)))
            for s in range(m_eff):
                sub = x[:, s * dsub : (s + 1) * dsub]
                d2 = (
                    (sub**2).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ codebooks[s].T)
                    + (codebooks[s] ** 2).sum(axis=1)[None, :]
                )
                codes = np.argmin(d2, axis=1)
                scores += luts[s][:, codes].T  # (rows, nq)
            top = min(n_cand, len(ids))
            # local per-query top prune: only rows*queries shrinking to
            # top·nq leave the partition
            order = np.argsort(-scores, kind="stable", axis=0)[:top]
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                sel = order[:, qi]
                out_q.extend([int(q_ids[qi])] * len(sel))
                out_n.extend(ids[sel].tolist())
                out_s.extend(scores[sel, qi].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc": out_s}
            )

    enc_src = corpus.select(
        F.col(id_col).alias("nid"), _as_double(vec_col).alias("cv")
    )
    local = enc_src.mapInPandas(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        local.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the tiny candidate set
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    # RAW query vectors for the exact re-rank so the reported cosine is
    # bitwise the brute_force_topk value for any overlapping pair
    qv = corpus.sparkSession.createDataFrame(
        [(int(r[id_col]), [float(v) for v in r["v"]]) for r in qrows],
        "query_id long, qv array<double>",
    )
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF+PQ approximate top-k — the canonical billion-scale index
    composition (coarse inverted lists prune WHICH rows are scored;
    PQ/ADC codes make scoring them cheap), completing the ANN family
    next to lsh_topk / ivf_topk / pq_topk.

    Index: each corpus vector lands in ONE inverted list (nearest
    coarse centroid) carrying its ``m``-cell PQ code — the global
    (non-residual) codebook variant, so one LUT per query serves every
    probed list and the codebooks stay deterministic and list-
    independent.  Search: a query probes its ``nprobe`` nearest lists;
    candidates are scored by ``m`` table lookups (no float-vector math
    on the candidate stream); the top ``rerank·k`` ADC survivors
    re-rank by EXACT cosine.

    Scale shape: centroids + codebooks + query LUTs broadcast
    (dims-scale, closure-captured); the corpus is encoded in one
    mapInPandas pass whose output carries only (id, list, m small
    codes); the single shuffle is the list-id join (candidate volume
    ~nprobe/nlist of the corpus per query, each row m bytes of code,
    not d·8 of floats); ADC scoring is one vectorized gather on the
    joined stream; the exact re-rank touches queries·rerank·k rows.
    With ``nprobe = nlist`` and ``rerank·k ≥ corpus`` both prunes are
    vacuous and the result EQUALS brute force — the hash anchor.
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, nlist, id_col, vec_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, m, ksub, id_col, vec_col)
    m_eff, _, dsub = codebooks.shape
    qrows = (
        queries.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .sort(id_col)
        .collect()
    )
    q_ids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    luts = np.stack(
        [qn[:, s * dsub : (s + 1) * dsub] @ codebooks[s].T for s in range(m_eff)]
    )
    qlists = np.argsort(-(qn @ centroids.T), kind="stable", axis=1)[:, :nprobe]
    # per coarse list: which query indexes probe it (dims-scale dict)
    probers: dict[int, list[int]] = {}
    for qi, row in enumerate(qlists):
        for li in row:
            probers.setdefault(int(li), []).append(qi)
    n_cand = int(rerank) * int(k)
    out_schema = "query_id long, neighbor_id long, adc double"

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["nid"].to_numpy(dtype=np.int64)
            x = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            lists = np.argmax(x @ centroids.T, axis=1)
            codes = np.empty((len(ids), m_eff), dtype=np.int64)
            for s in range(m_eff):
                sub = x[:, s * dsub : (s + 1) * dsub]
                d2 = (
                    (sub**2).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ codebooks[s].T)
                    + (codebooks[s] ** 2).sum(axis=1)[None, :]
                )
                codes[:, s] = np.argmin(d2, axis=1)
            out_q, out_n, out_s = [], [], []
            for li, qidx in probers.items():
                mask = lists == li
                if not mask.any():
                    continue
                cids = ids[mask]
                ccodes = codes[mask]
                # ADC: scores[c, j] for candidates in this list × its probers
                scores = np.zeros((len(cids), len(qidx)))
                for s in range(m_eff):
                    scores += luts[s][np.ix_(qidx, ccodes[:, s])].T
                top = min(n_cand, len(cids))
                order = np.argsort(-scores, kind="stable", axis=0)[:top]
                for j, qi in enumerate(qidx):
                    sel = order[:, j]
                    out_q.extend([int(q_ids[qi])] * len(sel))
                    out_n.extend(cids[sel].tolist())
                    out_s.extend(scores[sel, j].tolist())
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "adc": out_s}
                )

    enc_src = corpus.select(
        F.col(id_col).alias("nid"), _as_double(vec_col).alias("cv")
    )
    local = enc_src.mapInPandas(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        local.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    # RAW query vectors: the exact re-rank cosine is bitwise the
    # brute_force_topk value for any overlapping pair
    qv = corpus.sparkSession.createDataFrame(
        [(int(r[id_col]), [float(v) for v in r["v"]]) for r in qrows],
        "query_id long, qv array<double>",
    )
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )
