"""Embedding similarity search.

Two paths (SURVEY.md Part B-LLM):

- brute-force cosine top-k (queries.py::embedding_topk_bruteforce):
  broadcast the query set, score JVM-side (zip_with/aggregate), per-query
  top-k via window.  Exact; cost O(|Q| * |C|) — the baseline, and the
  right answer whenever |Q| is small.

- random-hyperplane LSH ANN (this module): P fixed hyperplanes give a
  P-bit bucket signature; candidates = same bucket (optionally 1-bit
  multiprobe); exact re-rank within buckets.  Cost O(sum bucket * |Q|)
  — the 100 TB path: the corpus is bucketed ONCE (write-side), queries
  probe only their bucket.

Hyperplanes come from a seeded numpy generator materialized as literal
arrays in the plan — deterministic across executors, no Python UDF in
the scoring path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _cosine_pairs_udf():
    """Arrow-vectorized row-wise cosine over two array columns (one
    normalized einsum per batch; used where the score feeds a rows-only
    check — oracled outputs keep the sequential-fold `cosine`, whose
    summation ORDER matches the SQL oracle bit-for-bit)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype=np.float64)
        ma = np.array([list(v) for v in a], dtype=np.float64)
        mb = np.array([list(v) for v in b], dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return _cos


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(num_planes, dim)


def lsh_bucket_np(dim: int, num_planes: int = 12, seed: int = 42):
    """Arrow-vectorized P-bit hyperplane signature (pandas_udf): one
    matmul per batch instead of P interpreted aggregate-folds per row.
    Returns a Column function usable as ``lsh_bucket_np(...)(col)``."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(dim, num_planes, seed).T  # d×P
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("long")
    def _bucket(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=np.int64)
        m = np.array([list(v) for v in vecs], dtype=np.float64)
        bits = (m @ planes) > 0
        return pd.Series(bits @ weights)

    return _bucket


def cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k, Arrow/numpy-vectorized.

    The query set (small by contract — it rides a broadcast) is
    collected to a |Q|×d numpy matrix; the corpus streams through
    ``mapInPandas``, each Arrow batch scored with ONE matmul
    (Cn @ Qn.T) and cut to its batch-local top-k per query before
    anything is shuffled.  The global window then ranks only
    |batches|·|Q|·k candidate rows instead of |C|·|Q| scored pairs —
    at 100 TB that's the difference between shuffling k-per-partition
    and shuffling the whole cross product.  Ordering ties break on
    c_id in both the local cut and the global window, so the result
    is deterministic and equal to the single-pass answer.

    Partitioning (guide §2.4/§2.6): the corpus streams through the
    Python stage in its NATURAL scan partitioning — parquet splits are
    `maxPartitionBytes`-bounded, so parallelism already scales with
    corpus bytes and the cluster.  The earlier explicit
    ``repartition(defaultParallelism, id)`` shuffled the full
    embedding payload once for nothing (scoring is row-independent,
    so hash placement buys zero) and, at bench scale, fanned a
    one-split frame into 32 near-empty tasks whose per-task Python
    round-trip overhead exceeded the compute — the r9 driver measured
    the entry FASTER on 8 cores than 32 (scaling ratio 0.71), the
    §2.6 over-partitioning smell.  Removing the exchange deletes the
    only payload shuffle in the plan; the single remaining exchange
    carries (q_id, c_id, cos_raw) candidates, |parts|·|Q|·k rows."""
    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qn))

    def score(batches):
        b_qids, b_qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["c_id"].to_numpy(dtype=np.int64)
            cm = np.array([list(v) for v in pdf["c_emb"]], dtype=np.float64)
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sim = cn @ b_qn.T  # |batch| x |Q|
            kk = min(k, sim.shape[0])
            # batch-local top-k per query: argsort on (-sim, c_id)
            for j in range(sim.shape[1]):
                order = np.lexsort((cids, -sim[:, j]))[:kk]
                yield pd.DataFrame(
                    {
                        "q_id": np.full(kk, b_qids[j]),
                        "c_id": cids[order],
                        "cos_raw": sim[order, j],
                    }
                )

    cand = (
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_emb"))
        .mapInPandas(score, "q_id long, c_id long, cos_raw double")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("c_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: bucket-equi-join then exact cosine re-rank.

    Returns (q_id, c_id, cos_sim, rn<=k).  Recall < 1.0 by design;
    raise num_planes for smaller buckets, lower it for higher recall.
    """
    bucket_fn = lsh_bucket_np(dim, num_planes, seed)
    cb = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_emb"),
        bucket_fn(F.col(vec_col)).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_emb"),
        bucket_fn(F.col(vec_col)).alias("bucket"),
    )
    scored = cb.join(F.broadcast(qb), "bucket").withColumn(
        "cos_raw", cosine(F.col("q_emb"), F.col("c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("c_id"))
    return (
        scored.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


def pairwise_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    num_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH blocking + exact verify."""
    b = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        lsh_bucket_np(dim, num_planes, seed)(F.col(vec_col)).alias("bucket"),
    ).persist()  # self-joined below; don't recompute the signature twice
    b.count()  # materialize: the self-join branches race a lazy cache
    return (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .withColumn("cos_raw", cosine(F.col("a.__v"), F.col("b.__v")))
        .filter(F.col("cos_raw") >= threshold)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            # pure-IEEE half-up rounding: bit-identical across engines
            # that compute the same sequential-fold cosine
            (F.floor(F.col("cos_raw") * 10000 + F.lit(0.5)) / 10000).alias("cos_sim"),
        )
    )


def _kmeans_lite(x: np.ndarray, n_cells: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Deterministic spherical k-means on a bounded sample (driver-side
    numpy; the sample is O(n_cells * 100) rows, never the corpus)."""
    rng = np.random.RandomState(seed)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cent = xn[rng.choice(len(xn), size=min(n_cells, len(xn)), replace=False)]
    for _ in range(iters):
        assign = (xn @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cent[c] = m / norm
    return cent


def _train_quantizer(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    train_sample: int,
) -> np.ndarray:
    """Train the coarse quantizer on a bounded, deterministic sample
    (first ``train_sample`` ids — O(KB) to the driver, documented
    driver-side collection; never the corpus)."""
    train = (
        corpus.orderBy(id_col)
        .limit(train_sample)
        .select(vec_col)
        .collect()
    )
    return _kmeans_lite(
        np.array([list(r[0]) for r in train], dtype=np.float64),
        n_cells,
        seed=seed,
    )


def _assign_cells(
    corpus: DataFrame, cent: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid cell per vector: one matmul per Arrow batch
    (mapInPandas), centroids ride a broadcast.  Returns
    (__id, __v, cell)."""
    bc = corpus.sparkSession.sparkContext.broadcast(cent)

    def assign(batches):
        c_t = bc.value.T
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([list(v) for v in pdf["__v"]], dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "__v": pdf["__v"],
                    "cell": (mn @ c_t).argmax(axis=1).astype(np.int32),
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(assign, "__id long, __v array<float>, cell int")


#: target expected members per quantizer cell when ``n_cells`` is
#: auto-derived — keeps the within-cell pair count (the quadratic term)
#: task-sized at any corpus scale
SEMANTIC_DEDUP_CELL_TARGET = 10_000


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_cells: int | None = None,
    seed: int = 42,
    train_sample: int = 2048,
    cell_target: int = SEMANTIC_DEDUP_CELL_TARGET,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-cluster the
    embedding space (spherical k-means cells, the IVF quantizer), find
    within-cell pairs with cosine >= ``threshold``, and drop every
    vector that has a LOWER-id neighbor above the threshold in its
    cell (deterministic min-id keep rule).  Returns one verdict row
    per input: (id, keep, dup_of) with ``dup_of`` = the smallest
    qualifying lower id for dropped rows, null for kept rows.

    100 TB shape: candidate generation is the cell-equi self-join —
    each vector is compared only against its own cell's members
    (|corpus|^2 / n_cells expected pairs, never all-pairs; n_cells
    scales with the corpus so cells stay task-sized), scored with one
    row-wise einsum per Arrow batch; the verdict aggregate shuffles
    (id_b, id_a) pairs, and the final anti-shaped join is keyed on the
    id.  The quantizer trains on a bounded driver-side sample
    (documented); in production the cell is computed once at ingest
    and stored as a partition column.

    ``n_cells=None`` (default) derives the cell count from the corpus:
    ``max(16, ceil(n / cell_target))``, so expected cell membership —
    and with it the quadratic within-cell pair count — stays bounded
    regardless of corpus size (costs one count() pass; pass an explicit
    ``n_cells`` to skip it)."""
    if n_cells is None:
        n = df.count()
        n_cells = max(16, -(-n // max(1, cell_target)))
        # the quantizer needs more training points than centroids
        train_sample = max(train_sample, 8 * n_cells)
    cent = _train_quantizer(df, id_col, vec_col, n_cells, seed, train_sample)
    b = _assign_cells(df, cent, id_col, vec_col).persist()
    b.count()  # materialize: the self-join branches race a lazy cache
    pairs = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .withColumn(
            "cos_raw", _cosine_pairs_udf()(F.col("a.__v"), F.col("b.__v"))
        )
        .filter(F.col("cos_raw") >= threshold)
    )
    drops = pairs.groupBy(F.col("b.__id").alias("__id")).agg(
        F.min(F.col("a.__id")).alias("dup_of")
    )
    return (
        b.select("__id")
        .join(drops, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_sample: int = 2048,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the
    corpus into ``n_cells`` spherical-kmeans cells, then each query
    scores ONLY its ``n_probe`` nearest cells' vectors (exact cosine
    re-rank inside the probed cells).

    100 TB shape: the quantizer trains on a bounded, deterministic
    sample (first ``train_sample`` ids — O(KB) to the driver); cell
    assignment is one matmul per Arrow batch; the probe join hashes on
    ``cell`` so each query touches |corpus| * n_probe / n_cells rows
    instead of |corpus|.  In production the cell assignment is computed
    once at ingest and stored as a partition column — the scan then
    prunes unprobed cells entirely.
    """
    cent = _train_quantizer(
        corpus, id_col, vec_col, n_cells, seed, train_sample
    )
    cb = (
        _assign_cells(corpus, cent, id_col, vec_col)
        .withColumnRenamed("__id", "c_id")
        .withColumnRenamed("__v", "c_emb")
    )

    # queries are small by contract: probe cells computed driver-side
    qrows = queries.select(id_col, vec_col).collect()
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    probes = np.argsort(-(qn @ cent.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(r[0]), [float(x) for x in r[1]], int(c))
        for r, cells in zip(qrows, probes)
        for c in cells
    ]
    qb = corpus.sparkSession.createDataFrame(
        probe_rows, "q_id long, q_emb array<float>, cell int"
    )

    # numpy pairwise cosine per Arrow batch: the HOF fold form is
    # interpreted per element (~10 µs/step) and dominated this operator
    # ~8x at |probed| ~ 10^5 pairs; one row-wise einsum per batch is
    # the scale-correct scoring path
    scored = cb.join(F.broadcast(qb), "cell").withColumn(
        "cos_raw", _cosine_pairs_udf()(F.col("q_emb"), F.col("c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("c_id"))
    return (
        scored.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


# -- persisted IVF index: cell as a PARTITION COLUMN -----------------------


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    train_sample: int = 2048,
) -> np.ndarray:
    """Materialize the IVF index the ``ann_topk_ivf`` docstring
    promises for production: cell assignments written ONCE at ingest,
    with ``cell`` as a physical PARTITION COLUMN, so query-time scans
    prune unprobed cells at the FILE level — |corpus| * n_probe /
    n_cells bytes read, not |corpus|.  Centroids persist alongside
    (``_centroids.json``) so queries never retrain.  Returns the
    centroid matrix."""
    import json
    import os

    cent = _train_quantizer(corpus, id_col, vec_col, n_cells, seed, train_sample)
    (
        _assign_cells(corpus, cent, id_col, vec_col)
        .withColumnRenamed("__id", "c_id")
        .withColumnRenamed("__v", "c_emb")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump([[float(x) for x in row] for row in cent], f)
    return cent


def ann_topk_ivf_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k over a PERSISTED index (:func:`write_ivf_index`):
    probe cells come from the stored centroids driver-side, and the
    ``cell IN (probes)`` predicate lands in the scan's
    PartitionFilters — unprobed cells' files are never opened
    (plan-pinned in tests/test_dedup_similarity.py).  Scoring and
    ranking are identical to :func:`ann_topk_ivf`, so results match
    the in-memory form exactly for the same quantizer."""
    import json
    import os

    with open(os.path.join(index_path, "_centroids.json")) as f:
        cent = np.array(json.load(f), dtype=np.float64)
    cb = spark.read.parquet(index_path)

    qrows = queries.select(id_col, vec_col).collect()
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    probes = np.argsort(-(qn @ cent.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(r[0]), [float(x) for x in r[1]], int(c))
        for r, cells in zip(qrows, probes)
        for c in cells
    ]
    qb = spark.createDataFrame(probe_rows, "q_id long, q_emb array<float>, cell int")
    probed_cells = sorted({int(c) for _r, cells in zip(qrows, probes) for c in cells})

    scored = (
        cb.filter(F.col("cell").isin(probed_cells))  # -> PartitionFilters
        .join(F.broadcast(qb), "cell")
        .withColumn("cos_raw", _cosine_pairs_udf()(F.col("q_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_raw").desc(), F.col("c_id"))
    return (
        scored.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
) -> dict:
    """Persisted hyperplane-LSH index — the LSH twin of
    :func:`write_ivf_index` (VERDICT r7 item 5): bucket signatures are
    computed ONCE at ingest and written with ``bucket`` as a physical
    PARTITION COLUMN, so a query-time scan with ``bucket IN (probes)``
    prunes unprobed buckets at the FILE level instead of re-bucketing
    the whole corpus per call (what :func:`ann_topk_lsh` does).  The
    hyperplane family is fully determined by ``(dim, num_planes,
    seed)``; those persist to ``_lsh_meta.json`` so queries always
    hash with the index's own planes.  Returns the metadata dict."""
    import json
    import os

    bucket_fn = lsh_bucket_np(dim, num_planes, seed)
    (
        corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_emb"),
            bucket_fn(F.col(vec_col)).alias("bucket"),
        )
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )
    meta = {"dim": dim, "num_planes": num_planes, "seed": seed}
    with open(os.path.join(path, "_lsh_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def ann_topk_lsh_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """LSH top-k over a PERSISTED index (:func:`write_lsh_index`):
    query signatures are computed driver-side from the stored plane
    parameters (O(|queries|·dim·P) — queries are the SMALL side by
    contract), and ``bucket IN (query buckets)`` lands in the scan's
    PartitionFilters, so only matching buckets' files are opened.
    Scoring and ranking are identical to :func:`ann_topk_lsh`, so
    results match the per-call re-bucketing form exactly for the same
    ``(dim, num_planes, seed)``."""
    import json
    import os

    with open(os.path.join(index_path, "_lsh_meta.json")) as f:
        meta = json.load(f)
    planes = _hyperplanes(meta["dim"], meta["num_planes"], meta["seed"]).T
    weights = (1 << np.arange(meta["num_planes"])).astype(np.int64)

    qrows = queries.select(id_col, vec_col).collect()
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qbuckets = ((qm @ planes) > 0) @ weights
    qb = spark.createDataFrame(
        [
            (int(r[0]), [float(x) for x in r[1]], int(b))
            for r, b in zip(qrows, qbuckets)
        ],
        "q_id long, q_emb array<float>, bucket long",
    )
    probed = sorted({int(b) for b in qbuckets})

    scored = (
        spark.read.parquet(index_path)
        .filter(F.col("bucket").isin(probed))  # -> PartitionFilters
        .join(F.broadcast(qb), "bucket")
        .withColumn("cos_raw", cosine(F.col("q_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_raw").desc(), F.col("c_id")
    )
    return (
        scored.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 4).alias("cos_sim"), "rn")
    )


# ---------------------------------------------------------------------------
# Product quantization (round 6) — the ANN serving compression standard
# ---------------------------------------------------------------------------


def _kmeans_l2(x: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Deterministic plain-L2 k-means (PQ codebooks are Euclidean,
    unlike the spherical coarse quantizer): seeded permutation init,
    empty cells re-seeded deterministically, fixed iteration count."""
    rng = np.random.default_rng(seed)
    cent = x[rng.permutation(len(x))[:k]].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
            else:  # re-seed an empty cell with the worst-served point
                cent[c] = x[d.min(axis=1).argmax()]
    return cent


def train_pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    train_sample: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """(m, k, dim/m) PQ codebooks from a bounded, deterministic sample
    (first ``train_sample`` ids — O(KB) to the driver, documented;
    the production variant trains per-block k-means distributed and
    broadcasts only the centroids, same contract)."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(train_sample)
        .collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return np.stack(
        [
            _kmeans_l2(x[:, b * sub : (b + 1) * sub], k, seed=seed + b)
            for b in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to m codebook
    indices (m bytes at k<=256, a 32x cut for 64-dim float32).  One
    Arrow pass; codebooks broadcast in the closure (m*k*sub doubles)."""
    m, _k, sub = codebooks.shape
    cb = codebooks

    def _enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for b in range(m):
                block = vecs[:, b * sub : (b + 1) * sub]
                d = ((block[:, None, :] - cb[b][None, :, :]) ** 2).sum(axis=2)
                codes[:, b] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"__id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        _enc, "__id long, codes array<int>"
    )


def pq_adc_top1(
    codes_df: DataFrame,
    queries: np.ndarray,
    query_ids: np.ndarray,
    codebooks: np.ndarray,
) -> DataFrame:
    """Asymmetric distance computation: each query builds an (m, k)
    lookup table of block distances ONCE; every corpus code scores as
    m table lookups — no vector math per candidate, the PQ serving
    trick.  Batch-local argmin per query cuts shuffle traffic to
    one row per (query, batch); the final exact argmin ties break on
    the lower corpus id (deterministic).  Returns (q_id, top1_id)."""
    m, k, sub = codebooks.shape
    luts = np.empty((len(queries), m, k), dtype=np.float64)
    for qi, q in enumerate(queries):
        for b in range(m):
            luts[qi, b] = (
                (codebooks[b] - q[b * sub : (b + 1) * sub][None, :]) ** 2
            ).sum(axis=1)
    qids = query_ids

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (n, m)
            ids = pdf["__id"].to_numpy()
            # dists[q, n] = sum over blocks of LUT[q, b, codes[n, b]]
            dists = np.zeros((len(qids), len(ids)))
            for b in range(m):
                dists += luts[:, b, codes[:, b]]
            # batch-local argmin, ties to the LOWER id regardless of
            # row order so the result is partitioning-independent
            minv = dists.min(axis=1, keepdims=True)
            tied = dists == minv
            best_id = np.where(tied, ids[None, :], np.iinfo(np.int64).max).min(
                axis=1
            )
            yield pd.DataFrame(
                {"q_id": qids, "cand_id": best_id, "dist": minv[:, 0]}
            )

    scored = codes_df.mapInPandas(_score, "q_id long, cand_id long, dist double")
    return (
        scored.groupBy("q_id")
        .agg(F.min(F.struct("dist", "cand_id")).alias("best"))
        .select("q_id", F.col("best.cand_id").alias("top1_id"))
    )
