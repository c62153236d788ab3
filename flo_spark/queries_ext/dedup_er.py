"""Deduplication, entity resolution and embedding similarity:
exact/minhash/simhash/ngram near-dup, blocking strategies, survivorship,
ANN contracts, PQ/JL/int8 embedding transforms.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    money_scaled,
    query,
)

__all__ = [
    "dedup_clusters_minhash",
    "mmr_diversified_topk",
    "grid_dbscan_embeddings",
    "dedup_connected_components",
    "embedding_centroids",
    "dedup_keep_best",
    "embedding_ann_recall",
    "dedup_simhash_pairs",
    "duplicate_ngram_rate",
    "semantic_dedup_verdicts",
    "embedding_int8_quantize",
    "span_dedup_stats",
    "dedup_ngram_containment",
    "cdc_chunk_dedup_stats",
    "neardup_ingest_verdicts",
    "embedding_pq_adc",
    "dup_cluster_size_histogram",
    "line_dedup_corpus",
    "dedup_fuzzy_verify_levenshtein",
    "image_dhash_neardup",
    "audio_fingerprint_neardup",
    "hard_negative_mining",
    "tfidf_cosine_pairs_topk",
    "sorted_neighborhood_pairs",
    "golden_record_survivorship",
    "embedding_jl_projection",
    "prefix_filter_jaccard_pairs",
    "blocking_quality_metrics",
    "tfidf_candidate_stats",
    "fellegi_sunter_linkage",
    "fellegi_sunter_em_round",
]


@query(
    "dedup_clusters_minhash",
    r"""
    WITH RECURSIVE g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> '') AS w
            FROM documents)
    ),
    edges AS (
      SELECT a.doc_id AS ea, b.doc_id AS eb
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)) >= 0.5
    ),
    sym AS (
      SELECT ea AS a, eb AS b FROM edges
      UNION SELECT eb, ea FROM edges
    ),
    nodes AS (SELECT DISTINCT a AS n FROM sym),
    reach(src, dst) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    labels AS (SELECT src AS node, min(dst) AS label FROM reach GROUP BY src)
    SELECT label AS canonical_doc_id,
           count(*) AS cluster_size,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members_csv
    FROM labels GROUP BY label HAVING count(*) >= 2
    """,
)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline: MinHash-LSH near-dup PAIRS →
    connected components → duplicate CLUSTERS with a canonical
    (min-id) representative.  This is the full production shape —
    transitive closure matters because A~B and B~C put A and C in one
    cluster even though LSH never compared them.

    Oracled via a recursive-CTE transitive closure over the exact
    all-pairs jaccard edge set (valid because LSH recall is 1 on this
    corpus — see ``dedup_minhash_lsh``).  Members are emitted as a
    comma-joined string, not an array: scalar columns canonicalize
    identically across engines."""
    from flo_spark.operators.dedup import minhash_lsh_pairs
    from flo_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        comp.groupBy(F.col("label").alias("canonical_doc_id"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members_csv"),
        )
        .filter(F.col("cluster_size") >= 2)
    )


@query(
    "dedup_connected_components",
    """
    SELECT doc_id, min(doc_id) OVER (PARTITION BY n_chars) AS component
    FROM documents
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization: collapse a near-dup PAIR list
    into transitive CLUSTERS via distributed connected components
    (operators/graph.py — label propagation + pointer jumping, O(log n)
    iterations of two key-partitioned shuffles; no driver-side data).

    The edge list here is constructed so the answer has a closed form
    the oracle can state: within each ``n_chars`` class, docs are
    chained rank-adjacent into a PATH graph (worst-case diameter for
    the solver), so each class is one component whose canonical id is
    ``min(doc_id) OVER (PARTITION BY n_chars)``.  Singleton classes
    produce no edges and fall out of the left-join/coalesce-to-self,
    exercising the isolated-node path too."""
    from flo_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("n_chars").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    nxt = ranked.select(
        F.col("n_chars").alias("nc2"),
        (F.col("rn") - F.lit(1)).alias("rn2"),
        F.col("doc_id").alias("dst"),
    )
    edges = ranked.join(
        nxt, (ranked["n_chars"] == nxt["nc2"]) & (ranked["rn"] == nxt["rn2"])
    ).select(F.col("doc_id").alias("src"), "dst")
    comp = connected_components(edges)
    return docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("component")
    )


@query(
    "embedding_centroids",
    """
    SELECT e.label, i - 1 AS pos,
           floor(avg(CAST(e.embedding[i] AS DOUBLE)) * 1e4 + 0.5) / 1e4
               AS centroid
    FROM embeddings e
    CROSS JOIN unnest(generate_series(1, 64)) AS t(i)
    GROUP BY e.label, i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (the k-means-update /
    class-prototype primitive).  posexplode -> hash aggregate on
    (label, pos): fully distributed with map-side partial sums — the
    centroid of 100 TB of vectors shuffles only |labels|*dim partial
    rows per task, never the vectors themselves.  Elements cast to
    DOUBLE before averaging in both engines and rounded via the
    IEEE-exact floor trick, keeping the hash comparable.  (The DuckDB
    side cross-joins a constant 1..64 series because its
    generate_series cannot take lateral column arguments; dim is fixed
    by the table schema.)"""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "v")
    )
    avg = F.avg(F.col("v").cast("double"))
    return ex.groupBy("label", "pos").agg(
        (F.floor(avg * 1e4 + F.lit(0.5)) / 1e4).alias("centroid")
    )


@query(
    "dedup_keep_best",
    """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5(substring(text, 1, 80)) AS content_key
      FROM documents
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY content_key
               ORDER BY n_chars DESC, doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY content_key) AS n_dups
      FROM keyed
    )
    SELECT doc_id, lang, n_chars, content_key,
           CAST(n_dups AS BIGINT) AS n_dups
    FROM ranked WHERE rn = 1 AND n_dups > 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best canonicalization: cluster documents by a content key
    (md5 of the first 80 chars — the testdata's near-duplicates share
    prefixes; exact-whole-text groups are all singletons) and keep the
    highest-quality member per cluster (longest, doc_id tiebreak),
    reporting cluster size.  This is the curation policy layered on
    dedup: not "drop duplicates" but "of each duplicate cluster, keep
    the best one".

    Scale: hash-partitioned window over the content key — the same
    shuffle shape as exact dedup; no pairwise comparison, no growth in
    intermediate size.  md5 is computed once per row scan-side."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.withColumn("content_key", F.md5(F.substring("text", 1, 80)))
    w = Window.partitionBy("content_key")
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())),
    ).withColumn("n_dups", F.count("*").over(w))
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("n_dups") > 1))
        .select("doc_id", "lang", "n_chars", "content_key", "n_dups")
    )


@query(
    "embedding_ann_recall",
    """
    SELECT 'lsh' AS method, vec_id AS q_id,
           CAST(1 AS INTEGER) AS found, CAST(1 AS INTEGER) AS expected
    FROM embeddings WHERE vec_id < 5
    UNION ALL
    SELECT 'lsh_idx' AS method, vec_id AS q_id,
           CAST(1 AS INTEGER) AS found, CAST(1 AS INTEGER) AS expected
    FROM embeddings WHERE vec_id < 5
    UNION ALL
    SELECT 'ivf' AS method, vec_id AS q_id,
           CAST(1 AS INTEGER) AS found, CAST(1 AS INTEGER) AS expected
    FROM embeddings WHERE vec_id < 5
    """,
)
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable recall contract for ALL THREE ANN paths (LSH,
    persisted-index LSH, and IVF).

    The ANN top-k entries (`embedding_ann_lsh` / `embedding_ann_ivf`)
    are rows-only by design — approximate output has no SQL oracle.
    This entry oracles the recall INVARIANT instead: plant a scaled
    copy (x2) of each query vector into the corpus under vec_id +
    100000 and count how many of each query's top-k hits are its
    planted copy.  Positive scaling by a power of two is bit-exact in
    IEEE float and preserves every hyperplane sign and every
    normalized-cosine value, so the planted copy provably (a) shares
    the query's LSH bucket, (b) quantizes to the query's nearest IVF
    cell, and (c) re-ranks at cosine ~1.0 > any natural pair (max
    natural cosine in this corpus is 0.513) — both paths MUST return
    it as top-1, making found=1 per (method, query) deterministic and
    DuckDB-computable from the planting formula alone.  A recall bug
    in bucketing, probing, cell assignment, or re-ranking yields
    found=0 (or a missing group) and breaks the hash."""
    from flo_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_lsh,
        ann_topk_lsh_indexed,
        write_lsh_index,
    )

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        # x2 is exact in float32 (exponent bump), so the planted copy's
        # normalized vector is BIT-IDENTICAL to the query's
        F.transform("embedding", lambda x: (x * 2).cast("float")).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    q = base.filter(F.col("vec_id") < 5)

    def recall(df: DataFrame, method: str) -> DataFrame:
        return (
            df.groupBy("q_id")
            .agg(
                F.sum(
                    (F.col("c_id") == F.col("q_id") + 100000).cast("int")
                ).cast("int").alias("found")
            )
            .select(
                F.lit(method).alias("method"),
                "q_id",
                "found",
                F.lit(1).alias("expected"),
            )
        )

    lsh = ann_topk_lsh(corpus, q, dim=64, k=10, num_planes=6)
    ivf = ann_topk_ivf(corpus, q, k=10, n_cells=16, n_probe=4)
    # the PERSISTED LSH path (r8): same planes, but buckets come from
    # the written index's partition column and the probe predicate
    # prunes at file level — must find every planted copy too
    import shutil
    import tempfile

    idx = tempfile.mkdtemp(prefix="ann_recall_lsh_idx_")
    try:
        write_lsh_index(corpus, idx, dim=64, num_planes=6)
        lsh_idx = ann_topk_lsh_indexed(spark, idx, q, k=10)
        out = (
            recall(lsh, "lsh")
            .unionByName(recall(lsh_idx, "lsh_idx"))
            .unionByName(recall(ivf, "ivf"))
        )
        # materialize before the index dir disappears (localCheckpoint
        # keeps the contract lazily composable downstream)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@query(
    "dedup_simhash_pairs",
    """
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
           CAST(0 AS INTEGER) AS hamming
    FROM documents WHERE doc_id < 40
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable contract for the SimHash pipeline.

    The raw `dedup_simhash` entry is rows-only — a 64-bit
    xxhash64-derived simhash cannot be recomputed in DuckDB.  The PAIR
    output on planted permutations can: SimHash is a bag-of-tokens bit
    vote, so a document whose token ORDER is reversed has a provably
    IDENTICAL simhash (hamming 0), which guarantees every band
    matches and the blocking join must surface the pair.  Plant the
    word-reversed copy of the first 40 documents under doc_id +
    1000000, run the real pipeline (tokenize -> xxhash64 -> bit vote
    -> 16-bit band blocking -> bit_count verify,
    operators/dedup.py::simhash_near_pairs), and keep exactly the
    planted (source, copy) pairs — their (id_a, id_b, hamming=0) is
    integer-exact from the planting formula.  A defect in
    tokenization, the vote fold, banding, or the hamming verify drops
    rows or yields hamming>0, breaking the hash."""
    from flo_spark.operators.dedup import simhash_near_pairs

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    tokens = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    planted = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.reverse(tokens), " ").alias("text"),
    )
    corpus = d.unionByName(planted)
    pairs = simhash_near_pairs(corpus)
    # keep only (source, planted-copy) pairs: the id offset is unique to
    # the planting, so id_b - id_a == 1000000 <=> id_a is the source
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1000000) & (F.col("id_a") < 40)
    )


@query(
    "duplicate_ngram_rate",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS tri
      FROM w WHERE len(ws) >= 3
    ),
    dup AS (
      SELECT tri, count(DISTINCT doc_id) AS nd FROM t GROUP BY tri
    )
    SELECT t.doc_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN dup.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicated,
           floor(CAST(sum(CASE WHEN dup.nd > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS dup_rate
    FROM t JOIN dup ON dup.tri = t.tri
    GROUP BY t.doc_id
    """,
)
def duplicate_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated n-gram rate per document (the C4/Gopher-style
    "fraction of this doc's 3-grams that also occur in other docs"
    diagnostic used to spot boilerplate and template text before
    near-dedup).  dup_rate is an exact int/int quotient under the IEEE
    floor trick, so it hash-matches across engines.

    100 TB shape: trigrams are reduced to 8-byte xxhash64 keys BEFORE
    the corpus-wide aggregate and join — the wide shuffles move fixed
    64-bit keys, never trigram strings (the same keyed-by-hash trick
    as the MinHash/inverted-index dedup paths; collision odds at
    ~1e12 trigrams are ~1e-7 and only perturb a count by 1).  The
    doc-side re-join is on the same key, so AQE can pick its strategy
    per stage; nothing in the plan is per-row Python."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    z = F.explode(
        F.arrays_zip(
            F.slice(words, 1, F.greatest(n - 2, F.lit(0))),
            F.slice(words, 2, F.greatest(n - 2, F.lit(0))),
            F.slice(words, 3, F.greatest(n - 2, F.lit(0))),
        )
    )
    tri = (
        d.where(n >= 3)
        .select("doc_id", z.alias("t"))
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(" ", F.col("t.0"), F.col("t.1"), F.col("t.2"))
            ).alias("h"),
        )
    )
    # the 16-byte (doc, hash) stream is checkpointed once: the
    # dup-key census and the doc-side re-join both derive from it —
    # un-cut lineage re-scanned and re-exploded the corpus per fork
    # (2 scans, r9 audit; now 1)
    tri = tri.localCheckpoint()
    dup = tri.groupBy("h").agg(
        (F.count_distinct("doc_id") > 1).alias("is_dup")
    )
    return (
        tri.join(dup, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum(F.col("is_dup").cast("long")).alias("n_duplicated"),
        )
        .withColumn(
            "dup_rate",
            F.floor(
                F.col("n_duplicated") / F.col("n_trigrams") * 1e4 + F.lit(0.5)
            )
            / 1e4,
        )
    )


@query(
    "semantic_dedup_verdicts",
    """
    SELECT vec_id, TRUE AS keep, CAST(NULL AS BIGINT) AS dup_of
    FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id, FALSE AS keep,
           CAST(vec_id AS BIGINT) AS dup_of
    FROM embeddings WHERE vec_id < 40
    """,
)
def semantic_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication with a hash-checkable
    planted contract: cluster the embedding space into spherical
    k-means cells (the IVF quantizer), compare each vector only
    against its own cell, and drop every vector with a lower-id
    neighbor at cosine >= 0.99 (min-id keep rule; transitive cluster
    canonicalization is `dedup_connected_components`' job).

    Contract: a x2-scaled copy of each of the first 40 vectors enters
    under vec_id + 100000.  Scaling by a power of two is bit-exact in
    IEEE float, so the copy's NORMALIZED vector is bit-identical to
    its original's — it provably quantizes to the same cell (recall 1,
    not 1-epsilon) and scores cosine ~1.0 > 0.99, while the strongest
    natural pair in this corpus is 0.513 (established by
    `embedding_neardup_cosine`'s all-pairs oracle).  The verdict set
    is therefore exact from the planting formula alone: every base
    vector keeps, every copy drops with dup_of = its original.  A
    defect in quantizer training, cell assignment, the blocked
    self-join, scoring, or the min-id rule changes a verdict and
    breaks the hash.  Scale shape documented on the operator
    (operators/similarity.py::semantic_dedup)."""
    from flo_spark.operators.similarity import semantic_dedup

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * 2).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(planted)
    return semantic_dedup(corpus, threshold=0.99, n_cells=16)


@query(
    "embedding_int8_quantize",
    r"""
    WITH q AS (
      SELECT vec_id,
             len(embedding) AS n_dims,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings
    ),
    e AS (
      SELECT d.vec_id, q.n_dims, q.maxabs,
             CASE WHEN q.maxabs = 0 THEN list_transform(d.embedding, x -> 0)
                  ELSE list_transform(d.embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) / (q.maxabs / 127)
                                       + 0.5) AS BIGINT))
             END AS qv,
             list_transform(d.embedding, x -> CAST(x AS DOUBLE)) AS xv
      FROM embeddings d JOIN q USING (vec_id)
    )
    SELECT vec_id, CAST(n_dims AS INT) AS n_dims,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS sum_q,
           CAST(list_aggregate(list_transform(qv, v -> abs(v)), 'max')
                AS BIGINT) AS max_abs_q,
           floor(list_aggregate(
                   list_transform(list_zip(xv, qv),
                     s -> (s[1] - s[2] * (maxabs / 127))
                          * (s[1] - s[2] * (maxabs / 127))),
                   'sum') * 1e6 + 0.5) / 1e6 AS sq_err
    FROM e
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the standard 4x memory
    cut for billion-vector ANN serving: per-vector scale = max|x|/127,
    q_i = round(x_i/scale), plus the exact squared reconstruction
    error.  Verifies the quantizer end to end: sum and max of the
    int8 codes are integer-exact, and the error fold is the
    sequential HOF sum, bit-identical across engines over identical
    IEEE operands (float32 widens exactly to double; /, *, floor are
    correctly rounded); zero vectors quantize to zeros by the guard
    rather than dividing by zero.

    100 TB shape: pure per-row JVM expressions (transform/aggregate
    HOFs) — no shuffle, no Python, no state; in production the int8
    codes replace the float column at ingest and every downstream
    ANN probe reads a quarter of the bytes."""
    e = load(spark, sf_dir, "embeddings")
    xv = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    d = e.select("vec_id", F.size("embedding").alias("n_dims"),
                 xv.alias("xv"), maxabs.alias("maxabs"))
    scale = F.col("maxabs") / 127
    qv = F.when(F.col("maxabs") == 0,
                F.transform("xv", lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform("xv", lambda x: F.floor(x / scale + 0.5).cast("long"))
    )
    d = d.withColumn("qv", qv)
    err = F.aggregate(
        F.zip_with("xv", "qv",
                   lambda x, q: (x - q * scale) * (x - q * scale)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return d.select(
        "vec_id",
        F.col("n_dims").cast("int").alias("n_dims"),
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, v: a + v).alias("sum_q"),
        F.aggregate(F.transform("qv", F.abs), F.lit(0).cast("long"),
                    lambda a, v: F.greatest(a, v)).alias("max_abs_q"),
        (F.floor(err * 1e6 + F.lit(0.5)) / 1e6).alias("sq_err"),
    )


@query(
    "span_dedup_stats",
    r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id, s['idx'] AS chunk_idx, s['chunk'] AS chunk
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
                 i -> struct_pack(
                   idx := i,
                   chunk := array_to_string(
                     list_slice(ws, (i - 1) * 10 + 1,
                                least(i * 10, len(ws))), ' ')))) AS s
        FROM w WHERE len(ws) > 0
      )
    ),
    r AS (
      SELECT doc_id, chunk_idx,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM r GROUP BY doc_id
    """,
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup, C4-style ("discard any repeated span,
    keep its first occurrence"): cut every document into
    non-overlapping 10-word chunks and drop each chunk whose exact
    text already occurred earlier in the corpus (first occurrence =
    smallest (doc_id, chunk_idx) — deterministic).  Per-doc keep/drop
    counts; the corpus plants real boilerplate so ~5% of spans drop.

    100 TB shape: the dedup window partitions by xxhash64(chunk) so
    the corpus-wide shuffle moves 8-byte keys + (doc_id, idx), never
    span text (the duplicate_ngram_rate trick; a 64-bit collision at
    ~1e12 spans merges two groups with odds ~1e-7 and moves one count
    by one).  Chunking itself is shuffle-free (sequence/slice HOFs in
    the scan stage); the only exchanges are the hash-keyed window and
    the per-doc re-aggregate."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    nchunks = F.ceil(n / F.lit(10.0))
    chunks = F.transform(
        F.sequence(F.lit(1).cast("long"), nchunks),
        lambda i: F.struct(
            i.alias("idx"),
            F.concat_ws(
                " ", F.slice(words, (i - 1) * 10 + 1, F.lit(10))
            ).alias("chunk"),
        ),
    )
    c = (
        d.where(n > 0)
        .select("doc_id", F.explode(chunks).alias("s"))
        .select(
            "doc_id",
            F.col("s.idx").alias("chunk_idx"),
            F.xxhash64("s.chunk").alias("h"),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_dropped"),
        )
    )


@query(
    "dedup_ngram_containment",
    r"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000,
             array_to_string(list_slice(
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> ''), 1, 12), ' ')
      FROM documents WHERE doc_id < 25
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> '') AS w
            FROM base)
    ),
    c AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / least(len(a.sh), len(b.sh)) AS cont
      FROM g a JOIN g b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, floor(cont * 10000 + 0.5) / 10000 AS containment
    FROM c WHERE cont >= 0.9
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (nested-duplicate) detection: |A(i)B| / min(|A|,|B|)
    over trigram shingle sets — the asymmetric metric that catches a
    document CONTAINED in another (quotes, truncations, article-plus-
    boilerplate) even when symmetric jaccard is low.  Planted
    contract: the first 25 documents re-enter truncated to their
    first 12 words under doc_id + 200000 — a truncation's shingle set
    is a strict subset of its source's, so the planted pair scores
    containment 1.0 by construction while its jaccard is far below
    any dedup threshold; the oracle computes brute-force all-pairs
    containment over the same corpus, so natural >=0.9 pairs (if any)
    must agree too.

    100 TB shape: identical to `dedup_ngram_jaccard` — the inverted
    index shuffles 8-byte shingle hashes and 16-byte id pairs, never
    shingle arrays; only the final quotient differs
    (operators/dedup.py::ngram_jaccard_pairs(metric="containment"))."""
    from flo_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(words, 1, 12), " ").alias("text"),
    )
    corpus = d.unionByName(planted)
    return ngram_jaccard_pairs(
        corpus, threshold=0.9, metric="containment"
    )


@query(
    "cdc_chunk_dedup_stats",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (SELECT doc_id, i AS pos, ws[i] AS word
          FROM d, UNNEST(range(1, len(ws) + 1)) AS t(i)),
    h AS (SELECT doc_id, pos, word,
                 ascii(substr(word || '__', 1, 1)) * 4096
               + ascii(substr(word || '__', 2, 1)) * 64
               + length(word) AS wh
          FROM w),
    ck AS (SELECT doc_id, pos, word,
                  coalesce(sum(CASE WHEN wh % 5 = 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS chunk_id
           FROM h),
    chunks AS (SELECT doc_id, chunk_id,
                      string_agg(word, ' ' ORDER BY pos) AS ctext,
                      count(*) AS n_words
               FROM ck GROUP BY doc_id, chunk_id),
    ranked AS (SELECT doc_id, chunk_id, n_words,
                      row_number() OVER (PARTITION BY ctext
                                         ORDER BY doc_id, chunk_id) AS rn
               FROM chunks)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN n_words ELSE 0 END) AS BIGINT)
               AS dup_words
    FROM ranked GROUP BY doc_id
    """,
)
def cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync-style, re-based on
    words) + corpus-wide first-occurrence chunk dedup accounting.

    A word is a chunk BOUNDARY when a deterministic hash of the word
    satisfies h % 5 == 0, so chunk identity depends only on local
    content: inserting a word shifts at most the chunk it lands in,
    where fixed-width chunking (doc_chunking, span_dedup) reslices the
    whole tail — THE property that makes CDC the storage-dedup
    standard.  Chunks dedup corpus-wide by first occurrence
    ((doc_id, chunk_id) min per chunk text); per doc the entry reports
    total chunks, duplicate instances, and the words those duplicates
    would save — the dedupable-bytes estimate.

    The word hash is engine-portable arithmetic (ascii of padded first
    two chars + length — no engine hash function), so the oracle
    reproduces boundaries bit-exactly; all outputs are integers.

    100 TB shape: boundary detection and word explode are scan-stage;
    chunk assembly shuffles once on doc_id (window + group);
    first-occurrence ranking shuffles once on chunk text — at scale
    that key becomes xxhash64(ctext) so 8-byte keys move, not strings
    (the duplicate_ngram_rate discipline); per-doc rollup re-shuffles
    reduced rows only."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    w = d.select(
        "doc_id",
        (F.posexplode("ws")).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    wh = (
        F.ascii(F.substring(F.concat(F.col("word"), F.lit("__")), 1, 1)) * 4096
        + F.ascii(F.substring(F.concat(F.col("word"), F.lit("__")), 2, 1)) * 64
        + F.length("word")
    )
    h = w.withColumn("wh", wh)
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ck = h.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum(F.when(F.col("wh") % 5 == 0, 1).otherwise(0)).over(win),
            F.lit(0),
        ),
    )
    chunks = ck.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("ctext"),
        F.count("*").alias("n_words"),
    )
    rnw = Window.partitionBy("ctext").orderBy("doc_id", "chunk_id")
    ranked = chunks.withColumn("rn", F.row_number().over(rnw))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_chunks"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_words")).otherwise(0))
        .cast("long")
        .alias("dup_words"),
    )


@query(
    "neardup_ingest_verdicts",
    """
    SELECT doc_id, TRUE AS accepted FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, FALSE AS accepted
    FROM documents WHERE doc_id < 60
    """,
)
def neardup_ingest_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest contract (streaming/dedup_ingest.py
    ``fold_neardup_batch``): documents arriving over three batches are
    admitted iff none of their MinHash LSH band buckets collides with
    an already-accepted document — sequential admission, unbounded
    across batches, the near-dup analog of ``stream_dedup_ingest``.

    PLANTED so every verdict is provable: each base document's words
    are suffixed with its doc_id, so distinct documents share ZERO
    shingles (band collision probability ~2^-64 per pair — and the
    outcome is deterministic, re-verified at every SF); each planted
    copy (id + 100000) reuses its original's text VERBATIM, so its
    signature — hence every band bucket — is identical and rejection
    is guaranteed.  Copies of batch-0/1 originals land one batch later
    (cross-batch rejection through the persistent store); copies of
    batch-2 originals land in batch 2 itself (within-batch sequential
    rejection: the copy's higher id loses).  The oracle is the
    construction: originals accepted, copies rejected.

    Replay idempotency and the collides-only-with-rejected admission
    subtlety are pinned in tests/test_neardup_ingest.py."""
    from flo_spark.queries import scratch_dir
    from flo_spark.streaming.dedup_ingest import (
        _read_store,
        fold_neardup_batch,
    )

    tmp = scratch_dir("flo_neardup_ingest_")
    store = f"{tmp}/store"
    uniq = F.expr(
        "array_join(transform(split(text, ' '),"
        " w -> concat(w, '_', cast(doc_id as string))), ' ')"
    )
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", uniq.alias("text"))
    )
    copies = base.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    all_docs = base.unionByName(copies)
    for b in range(3):
        orig_b = base.filter(F.col("doc_id") % 3 == b)
        # copies of batch-0/1 originals arrive one batch later;
        # copies of batch-2 originals arrive in batch 2 itself
        cpy_src = F.col("doc_id") - 100000
        cpy_b = copies.filter(
            ((cpy_src % 3 == b - 1) & F.lit(b in (1, 2)))
            | ((cpy_src % 3 == 2) & F.lit(b == 2))
        )
        fold_neardup_batch(
            orig_b.unionByName(cpy_b), b, store, fan_out=False
        )
    accepted = (
        _read_store(spark, store)
        .select("doc_id")
        .distinct()
        .withColumn("accepted", F.lit(True))
    )
    return all_docs.select("doc_id").join(accepted, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("accepted"), F.lit(False)).alias("accepted")
    )


@query(
    "embedding_pq_adc",
    """
    SELECT vec_id AS q_id, vec_id AS top1_id, TRUE AS self_hit
    FROM embeddings WHERE vec_id < 10
    """,
)
def embedding_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end to end (operators/similarity.py):
    train (m=8, k=16) codebooks on a bounded deterministic sample,
    compress every corpus vector to 8 codebook indices (a 32x memory
    cut for 64-dim float32 — THE compression that makes billion-vector
    ANN serving fit in RAM), then answer queries by ASYMMETRIC
    DISTANCE COMPUTATION: each query precomputes an (m, k) block
    lookup table once and every candidate scores as 8 table lookups,
    no vector arithmetic.

    Contract: self-retrieval — each of the 10 query vectors IS in the
    corpus, and its quantized distance (= its reconstruction error)
    must beat every other vector's, so ADC top-1 returns the query
    itself (ties break to the lower id, partitioning-independent;
    verified at sf0.001/0.01/0.1).  Batch-local argmin cuts shuffle
    traffic to one row per (query, batch)."""
    import numpy as np

    from flo_spark.operators.similarity import (
        pq_adc_top1,
        pq_encode,
        train_pq_codebooks,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = train_pq_codebooks(emb)
    codes = pq_encode(emb, cb)
    qrows = (
        emb.filter(F.col("vec_id") < 10)
        .orderBy("vec_id")
        .collect()  # 10 rows, documented bounded collect
    )
    queries = np.array([list(r.embedding) for r in qrows], dtype=np.float64)
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    top1 = pq_adc_top1(codes, queries, qids, cb)
    return top1.select(
        "q_id",
        "top1_id",
        (F.col("top1_id") == F.col("q_id")).alias("self_hit"),
    )


@query(
    "dup_cluster_size_histogram",
    """
    WITH k AS (
      SELECT md5(text) AS key, count(*) AS sz FROM documents GROUP BY md5(text)
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM k GROUP BY sz
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-multiplicity histogram over exact content keys — the
    corpus-duplication profile every dedup run reports first: for each
    cluster size, how many clusters, how many documents they hold, and
    how many a keep-one dedup would remove.  Two map-side-combinable
    aggregates (content-key shuffle, then size rollup of reduced
    rows); integer-exact."""
    d = load(spark, sf_dir, "documents")
    k = d.groupBy(F.md5(F.col("text").cast("binary")).alias("key")).agg(
        F.count("*").alias("sz")
    )
    return k.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_removable"),
    )


@query(
    "line_dedup_corpus",
    r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id, s['idx'] AS idx, s['line'] AS line
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
                 i -> struct_pack(
                   idx := i,
                   line := array_to_string(
                     list_slice(ws, (i - 1) * 8 + 1,
                                least(i * 8, len(ws))), ' ')))) AS s
        FROM w WHERE len(ws) > 0
      )
    ),
    r AS (
      SELECT doc_id, idx, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, idx) AS rn
      FROM c
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' '
                               ORDER BY idx), '') AS cleaned_text
    FROM r GROUP BY doc_id
    """,
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/MassiveText-style exact LINE dedup with document
    reassembly: every line that already occurred anywhere in the corpus
    (first occurrence = smallest (doc_id, idx), deterministic) is
    dropped from its document, and the document is rebuilt from its
    surviving lines in original order — the CLEANED TEXT is the
    output, where span_dedup_stats only counts and
    boilerplate_chunk_strip removes by frequency threshold (including
    first occurrences).  Re-based on non-overlapping 8-word lines
    because this corpus has no newline structure; the unit is a
    parameter, not the semantics.

    100 TB shape: chunking is shuffle-free (scan-stage HOFs); the
    dedup window partitions by the LINE ITSELF — exact, no collision
    caveat — which is affordable because the output IS text, so line
    text must shuffle once for the reassembly anyway; a stats-only
    variant would shuffle 8-byte xxhash64 keys instead (the
    span_dedup_stats shape, with its documented ~1e-7 collision odds).
    Reassembly is one doc_id shuffle with an in-group sort."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    nlines = F.ceil(n / F.lit(8.0))
    lines = F.transform(
        F.sequence(F.lit(1).cast("long"), nlines),
        lambda i: F.struct(
            i.alias("idx"),
            F.concat_ws(" ", F.slice(words, (i - 1) * 8 + 1, F.lit(8)))
            .alias("line"),
        ),
    )
    c = (
        d.where(n > 0)
        .select("doc_id", F.explode(lines).alias("s"))
        .select("doc_id", F.col("s.idx").alias("idx"), F.col("s.line").alias("line"))
    )
    w = Window.partitionBy("line").orderBy("doc_id", "idx")
    r = c.withColumn("rn", F.row_number().over(w))
    return r.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1, F.struct("idx", "line")
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


@query(
    "dedup_fuzzy_verify_levenshtein",
    """
    WITH w AS (
      SELECT doc_id, substr(text, 1, 120) AS head,
             string_split(text, ' ') AS ws
      FROM documents
    ),
    b AS (
      SELECT doc_id, head,
             concat_ws(' ', ws[1], ws[2], ws[3]) AS blk
      FROM w
    ),
    p AS (
      SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
             levenshtein(a.head, bb.head) AS edit_dist,
             greatest(length(a.head), length(bb.head), 1) AS denom
      FROM b a JOIN b bb ON a.blk = bb.blk AND a.doc_id < bb.doc_id
    )
    SELECT doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist,
           floor((1.0 - CAST(edit_dist AS DOUBLE) / denom) * 1e4 + 0.5)
             / 1e4 AS head_similarity,
           edit_dist <= 25 AS near_dup
    FROM p
    """,
)
def dedup_fuzzy_verify_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup VERIFICATION by edit distance — the exact-verify
    stage fuzzy-dedup pipelines run after cheap blocking: candidate
    pairs come from a deterministic block key (first 3 words — in this
    corpus exactly the planted duplicate/variant families), and each
    pair is scored by Levenshtein distance over the 120-char document
    heads (capped operands keep the O(n*m) DP bounded per pair — the
    standard trick; MinHash/SimHash handle whole-document scale).
    Classic Levenshtein is an exact integer both engines implement
    identically, so distance, 4dp head similarity, and the verdict all
    hash-match.

    100 TB shape: blocking is a scan-stage key + one equi-join (never
    all-pairs); pair count is sum of block^2, bounded by block sizes
    (max 3 in this corpus); the DP cost is capped by the 120-char
    operand limit."""
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    b = d.select(
        "doc_id",
        F.substring("text", 1, 120).alias("head"),
        F.concat_ws(
            " ",
            F.element_at(ws, 1),
            F.element_at(ws, 2),
            F.element_at(ws, 3),
        ).alias("blk"),
    )
    a, bb = b.alias("a"), b.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    denom = F.greatest(
        F.length("a.head"), F.length("b.head"), F.lit(1)
    )
    return (
        a.join(
            bb,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_dist"),
            (
                F.floor(
                    (1.0 - dist.cast("double") / denom) * 1e4 + F.lit(0.5)
                )
                / 1e4
            ).alias("head_similarity"),
            (dist <= 25).alias("near_dup"),
        )
    )


@query(
    "image_dhash_neardup",
    """
    SELECT doc_id AS orig_id,
           doc_id + 100000 AS dup_id,
           CAST(doc_id AS BIGINT) AS dhash
    FROM documents WHERE doc_id < 40
    """,
)
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image deduplication (dHash, the
    difference-hash behind every photo-dedup pipeline) with a planted,
    PROVABLE contract — the image sibling of ``dedup_simhash_pairs``:

    Per document, build a REAL 9x8 grayscale PGM whose horizontal
    gradient SIGNS encode the bits of doc_id (pixel walks +3 for a set
    bit, -3 for clear, from 128), so by construction
    dHash(image) == doc_id — and dHash is distinct across documents
    because doc_id is.  For doc_id < 40 a brightness-shifted copy
    (+15 on every pixel, a new asset id) is planted: dHash compares
    ADJACENT pixels, so a global brightness change preserves every
    bit — exactly the invariance that makes dHash a near-dup hash
    rather than a checksum.  The pipeline encodes real P5 container
    bytes, decodes them back through ``decode_image`` (the engine's
    actual netpbm decoder), computes the 64-bit dHash from the decoded
    pixels with numpy, and self-joins on the hash — so the planted
    pair set (each base with its copy, nothing else) is the only
    possible correct answer, and a defect in the container encode, the
    decoder, the bit packing, or the join breaks the hash.

    Hamming-tolerant matching (t > 0) composes with the simhash
    band-join (operators/dedup.py): dhash here IS a 64-bit simhash-
    shaped key.  100 TB shape: decode + hash is one Arrow-batched
    mapInPandas over the asset scan (no shuffle); the dedup join is
    one hash shuffle on an 8-byte key — identical to exact dedup."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, dhash64

    W, H = 9, 8

    def _hash_assets(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def render(v: int, bright: int) -> bytes:
            px = np.empty((H, W), dtype=np.uint8)
            for y in range(H):
                p = 128 + bright
                px[y, 0] = p
                for x in range(W - 1):
                    bit = (v >> (y * 8 + x)) & 1
                    p += 3 if bit else -3
                    px[y, x + 1] = p
            return b"P5\n%d %d\n255\n" % (W, H) + px.tobytes()

        def dhash(payload: bytes) -> int:
            return dhash64(decode_image(payload))

        for pdf in it:
            out = {"asset_id": [], "dhash": []}
            for doc_id in pdf.doc_id:
                did = int(doc_id)
                out["asset_id"].append(did)
                out["dhash"].append(dhash(render(did, 0)))
                if did < 40:  # planted brightness-shifted copy
                    out["asset_id"].append(did + 100000)
                    out["dhash"].append(dhash(render(did, 15)))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # decoded-hash frame materialized before the self-join (r9
    # session 2, the simhash_near_pairs discipline): un-checkpointed,
    # each join side re-ran the Arrow decode+hash stage over the
    # corpus; the checkpointed frame is 16 bytes/row
    hashed = docs.mapInPandas(
        _hash_assets, "asset_id long, dhash long"
    ).localCheckpoint()
    a, b = hashed.alias("a"), hashed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.dhash") == F.col("b.dhash"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("orig_id"),
            F.col("b.asset_id").alias("dup_id"),
            F.col("a.dhash").alias("dhash"),
        )
    )


@query(
    "audio_fingerprint_neardup",
    """
    SELECT doc_id AS orig_id,
           doc_id + 100000 AS dup_id,
           CAST(doc_id AS BIGINT) AS fp
    FROM documents WHERE doc_id < 40
    """,
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint deduplication with a planted, PROVABLE
    contract — the audio sibling of ``image_dhash_neardup``: the
    fingerprint is the SIGN CONTOUR of successive sample amplitudes
    (the 1-bit energy-delta scheme that band-energy fingerprints like
    Shazam's reduce to per band), which is invariant under GAIN — a
    louder copy of the same recording fingerprints identically.

    Per document, synthesize a real RIFF/WAVE PCM16 mono container
    whose 65 samples walk +3/-3 around 1000 following the bits of
    doc_id, so fingerprint(audio) == doc_id by construction and is
    distinct across documents.  For doc_id < 40 a gain-doubled copy
    (x2 every sample — exact in int16 and in the decoder's /32768
    float32 normalization) is planted under a new asset id.  The
    pipeline writes actual WAV bytes, decodes them back through
    ``decode_audio`` (the engine's stdlib WAV path), computes the
    64-bit contour with numpy, and self-joins on it: the planted
    (base, copy) pairs are the only possible answer; a defect in the
    container encode, the decoder's width/normalization handling, the
    bit packing, or the join breaks the hash.

    100 TB shape: decode + fingerprint is one Arrow-batched
    mapInPandas over the asset scan; the dedup join is one hash
    shuffle on an 8-byte key.  Hamming-tolerant matching composes
    with the simhash band-join exactly as for dHash."""
    import struct

    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_audio, sign_contour64

    N = 65  # 64 sign bits

    def _fingerprint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def render(v: int, gain: int) -> bytes:
            s = np.empty(N, dtype=np.int16)
            p = 1000
            s[0] = p * gain
            for k in range(N - 1):
                p += 3 if (v >> k) & 1 else -3
                s[k + 1] = p * gain
            pcm = s.tobytes()
            hdr = (
                b"RIFF"
                + struct.pack("<I", 36 + len(pcm))
                + b"WAVEfmt "
                + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
                + b"data"
                + struct.pack("<I", len(pcm))
            )
            return hdr + pcm

        def fp(payload: bytes) -> int:
            samples, _rate = decode_audio(payload)
            return sign_contour64(samples)

        for pdf in it:
            out = {"asset_id": [], "fp": []}
            for doc_id in pdf.doc_id:
                did = int(doc_id)
                out["asset_id"].append(did)
                out["fp"].append(fp(render(did, 1)))
                if did < 40:  # planted gain-doubled copy
                    out["asset_id"].append(did + 100000)
                    out["fp"].append(fp(render(did, 2)))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # decoded-fingerprint frame materialized before the self-join (r9
    # session 2): same fix as image_dhash_neardup — one decode pass
    hashed = docs.mapInPandas(
        _fingerprint, "asset_id long, fp long"
    ).localCheckpoint()
    a, b = hashed.alias("a"), hashed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("orig_id"),
            F.col("b.asset_id").alias("dup_id"),
            F.col("a.fp").alias("fp"),
        )
    )


@query(
    "hard_negative_mining",
    """
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS q_emb
      FROM embeddings WHERE vec_id < 20
    ),
    c AS (
      SELECT vec_id AS neg_id, label AS neg_label,
             CAST(embedding AS DOUBLE[]) AS c_emb
      FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, q.q_label, c.neg_id, c.neg_label,
             round(list_cosine_similarity(q.q_emb, c.c_emb), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY list_cosine_similarity(q.q_emb, c.c_emb) DESC,
                        c.neg_id) AS rn
      FROM q JOIN c ON c.neg_label <> q.q_label
    )
    SELECT q_id, q_label, neg_id, neg_label, cos_sim,
           CAST(rn AS BIGINT) AS rn
    FROM scored WHERE rn <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive embedding training: for
    each anchor (first 20 vectors), the 3 most-cosine-similar vectors
    with a DIFFERENT label — the near-miss negatives that make
    InfoNCE/triplet training converge, and the standard curation step
    before a retrieval fine-tune.  The similarity is computed entirely
    in JVM higher-order functions (transform-to-double, zip_with
    product, sequential aggregate fold, one sqrt) — no Python in the
    scoring path — and rounded on the module's 4dp ratio grid.

    100 TB shape: the anchor side is a bounded mining batch, hinted
    broadcast, so the 'cross' join is one pass over the corpus with
    batch-local scoring and a per-anchor TakeOrdered-style window cut;
    swapping the corpus scan for `ann_topk_ivf_indexed`'s cell-pruned
    scan gives the sublinear variant with the same output contract.
    Label filtering happens in the join condition, BEFORE any score is
    computed."""
    e = load(spark, sf_dir, "embeddings")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    to_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        to_d("embedding").alias("q_emb"),
    )
    c = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        to_d("embedding").alias("c_emb"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neg_label") != F.col("q_label"))
        .withColumn(
            "cos_raw",
            dot(F.col("q_emb"), F.col("c_emb"))
            / F.sqrt(
                dot(F.col("q_emb"), F.col("q_emb"))
                * dot(F.col("c_emb"), F.col("c_emb"))
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_raw").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "q_id",
            "q_label",
            "neg_id",
            "neg_label",
            F.round("cos_raw", 4).alias("cos_sim"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


@query(
    "tfidf_cosine_pairs_topk",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS HUGEINT) AS tf
      FROM (SELECT doc_id, unnest(ws) AS w FROM toks) GROUP BY 1, 2
    ),
    df AS (SELECT w, CAST(count(*) AS HUGEINT) AS df FROM tf GROUP BY w),
    n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM documents),
    wt AS (
      SELECT tf.doc_id, tf.w, tf.tf * ((1000000 * n.n) // df.df) AS wt
      FROM tf JOIN df USING (w) CROSS JOIN n
    ),
    nrm AS (SELECT doc_id, sum(wt * wt) AS nrm FROM wt GROUP BY doc_id),
    rare AS (SELECT w FROM df WHERE df BETWEEN 2 AND 10),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
      JOIN rare r ON r.w = a.w
    ),
    dots AS (
      SELECT c.da, c.db, sum(x.wt * y.wt) AS dot
      FROM cand c
      JOIN wt x ON x.doc_id = c.da
      JOIN wt y ON y.doc_id = c.db AND y.w = x.w
      GROUP BY 1, 2
    )
    SELECT d.da AS doc_a, d.db AS doc_b,
           CAST(floor(10000 * CAST(d.dot AS DOUBLE)
                      / (sqrt(CAST(na.nrm AS DOUBLE))
                         * sqrt(CAST(nb.nrm AS DOUBLE))) + 0.5)
                AS BIGINT) AS cos_x1e4
    FROM dots d
    JOIN nrm na ON na.doc_id = d.da
    JOIN nrm nb ON nb.doc_id = d.db
    ORDER BY cos_x1e4 DESC, doc_a, doc_b LIMIT 50
    """,
)
def tfidf_cosine_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-space document similarity: top-50 TF-IDF cosine pairs —
    the sparse-retrieval complement of BM25 search and the embedding
    cosine entries.  Kept EXACT until the last step: integer idf on
    the 1e-6 grid ((1e6*N) div df — a libm-free monotone inverse
    frequency, so no ln() ulp skew across engines), exact
    decimal(38,0)/HUGEINT dot products and norms (weights square past
    2^63), and one final IEEE sqrt+divide — both correctly rounded
    per IEEE 754, hence bit-identical — onto the 1e-4 grid.

    Candidate pairs come from an inverted index restricted to RARE
    words (2 <= df <= 10): the prefix-filter trick — frequent words
    generate quadratic candidate blowup and contribute least to
    cosine ranking; rare co-occurrence is the similarity signal.

    100 TB shape: tf/df/norms are map-side-combinable aggregates; the
    candidate generator shuffles 8-byte-hashable word keys with
    df-bounded fanout (a df<=10 word yields <=45 pairs); the exact
    verify join ships weight vectors only to CANDIDATE pairs (the
    minhash-verify discipline — bounded by candidate count, never
    all-pairs); final top-50 is TakeOrderedAndProject."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("ws")
    )
    D = "decimal(38,0)"
    # materialize the term-frequency table once (r9): df, weights,
    # norms, and the rare-word candidate generator all fork from it —
    # recomputing re-tokenized the corpus on every branch (16 document
    # scans); materializing the per-doc-term table IS the
    # inverted-index build any production pipeline persists
    tf = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast(D).alias("tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("w").agg(F.count("*").cast(D).alias("df"))
    # 1-row corpus count checkpointed (r9): it rides inside the
    # weight frame, which the norm and both dot-product legs rebuild
    n = load(spark, sf_dir, "documents").agg(
        F.count("*").cast(D).alias("n")
    ).localCheckpoint()
    wt = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            F.expr(
                "tf * ((CAST(1000000 AS DECIMAL(38,0)) * n) DIV df)"
            ).alias("wt"),
        )
    )
    nrm = wt.groupBy("doc_id").agg(F.expr("sum(wt * wt)").alias("nrm"))
    rare = df.filter((F.col("df") >= 2) & (F.col("df") <= 10)).select("w")
    rtf = tf.join(rare, "w").select("w", "doc_id")
    a, b = rtf.alias("a"), rtf.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
    )
    x = wt.select(
        F.col("doc_id").alias("da"), F.col("w").alias("w"),
        F.col("wt").alias("wx"),
    )
    y = wt.select(
        F.col("doc_id").alias("db"), F.col("w").alias("w"),
        F.col("wt").alias("wy"),
    )
    dots = (
        cand.join(x, "da")
        .join(y, ["db", "w"])
        .groupBy("da", "db")
        .agg(F.expr("sum(wx * wy)").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("da"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("db"), F.col("nrm").alias("nb"))
    out = (
        dots.join(na, "da")
        .join(nb, "db")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.expr(
                "CAST(floor(10000 * CAST(dot AS DOUBLE)"
                " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
                " + 0.5) AS BIGINT)"
            ).alias("cos_x1e4"),
        )
    )
    return out.orderBy(F.col("cos_x1e4").desc(), "doc_a", "doc_b").limit(50)


@query(
    "sorted_neighborhood_pairs",
    """
    WITH r AS (
      SELECT c_custkey,
             c_mktsegment || '|' ||
               lpad(CAST(CAST(floor(c_acctbal) AS BIGINT) + 100000
                         AS VARCHAR), 7, '0') AS sort_key,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_x100
      FROM customer
    ),
    o AS (
      SELECT c_custkey, sort_key, bal_x100,
             row_number() OVER (ORDER BY sort_key, c_custkey) AS rn
      FROM r
    )
    SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
           CAST(b.rn - a.rn AS INT) AS gap,
           CAST(abs(a.bal_x100 - b.bal_x100) AS BIGINT) AS bal_diff_x100,
           abs(a.bal_x100 - b.bal_x100) <= 500 AS candidate_match
    FROM o a JOIN o b ON b.rn - a.rn BETWEEN 1 AND 2
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo) — the third
    entity-resolution candidate generator next to LSH banding and
    prefix blocking: sort records by a domain key (segment +
    zero-padded balance bucket, shifted to be sign-free), slide a
    window of w = 3 over the sorted order, and emit every in-window
    pair with its exact cent-grid balance distance and a <= $5.00
    match verdict.  Candidate count is exactly (w-1) * n - O(w^2) —
    LINEAR in the corpus where all-pairs is quadratic; the oracle
    replays the identical window rule.

    100 TB shape: one global sort (range partition) of the KEYS, then
    the pairing is shuffle-free lead() arithmetic within the sorted
    run — Spark plans lead(1)/lead(2) in a single window pass; the
    multi-pass variant re-sorts on a second key to catch fuzzier
    matches, same shape per pass.  The sort is on (key, id) pairs —
    bytes-per-row bounded, never payloads.  Reference scope: flo has
    no ER surface — north-star extension (SURVEY §2 Part B,
    dedup family)."""
    r = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_mktsegment"),
            F.lit("|"),
            F.lpad(
                (F.floor("c_acctbal").cast("long") + 100000).cast("string"),
                7,
                "0",
            ),
        ).alias("sort_key"),
        money_scaled(F.col("c_acctbal")).alias("bal_x10000"),
    ).withColumn("bal_x100", F.expr("bal_x10000 div 100")).drop("bal_x10000")
    w = Window.orderBy("sort_key", "c_custkey")
    o = r.select(
        "c_custkey",
        "bal_x100",
        *[
            F.lead("c_custkey", k).over(w).alias(f"k{k}")
            for k in (1, 2)
        ],
        *[
            F.lead("bal_x100", k).over(w).alias(f"b{k}")
            for k in (1, 2)
        ],
    ).localCheckpoint()  # the gap-1/gap-2 union legs both derive
    # from this windowed frame — un-cut lineage re-sorted and
    # re-scanned customer per leg (2 scans, r9 audit; now 1)
    pairs = None
    for k in (1, 2):
        p = o.filter(F.col(f"k{k}").isNotNull()).select(
            F.col("c_custkey").alias("a_key"),
            F.col(f"k{k}").alias("b_key"),
            F.lit(k).cast("int").alias("gap"),
            F.abs(F.col("bal_x100") - F.col(f"b{k}")).alias("bal_diff_x100"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return pairs.select(
        "a_key",
        "b_key",
        "gap",
        F.col("bal_diff_x100").cast("long").alias("bal_diff_x100"),
        (F.col("bal_diff_x100") <= 500).alias("candidate_match"),
    )


@query(
    "golden_record_survivorship",
    """
    WITH keyed AS (
      SELECT doc_id, lang, source, n_chars,
             md5(substring(text, 1, 80)) AS cluster_key
      FROM documents
    ),
    big AS (
      SELECT cluster_key FROM keyed
      GROUP BY cluster_key HAVING count(*) > 1
    ),
    members AS (
      SELECT k.* FROM keyed k JOIN big USING (cluster_key)
    ),
    canon AS (
      SELECT cluster_key, doc_id AS canonical_doc_id,
             n_chars AS canonical_len
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cluster_key
          ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM members
      ) WHERE rn = 1
    ),
    langmode AS (
      SELECT cluster_key, lang AS lang_mode
      FROM (
        SELECT cluster_key, lang, count(*) AS c,
               row_number() OVER (
                 PARTITION BY cluster_key
                 ORDER BY count(*) DESC, lang ASC) AS rn
        FROM members GROUP BY cluster_key, lang
      ) WHERE rn = 1
    ),
    agg AS (
      SELECT cluster_key,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(min(doc_id) AS BIGINT) AS golden_doc_id,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             string_agg(DISTINCT source, ',' ORDER BY source) AS sources
      FROM members GROUP BY cluster_key
    )
    SELECT a.cluster_key, a.n_members, a.golden_doc_id,
           CAST(c.canonical_doc_id AS BIGINT) AS canonical_doc_id,
           CAST(c.canonical_len AS BIGINT) AS canonical_len,
           m.lang_mode, a.sources, a.total_chars
    FROM agg a
    JOIN canon c USING (cluster_key)
    JOIN langmode m USING (cluster_key)
    """,
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction — the SURVIVORSHIP step of entity
    resolution that follows blocking (sorted_neighborhood_pairs /
    LSH) and clustering (dedup_connected_components): each duplicate
    cluster (content-key, same 80-char-prefix rule as
    dedup_keep_best) merges into ONE synthetic master record with
    FIELD-LEVEL rules — most-complete field wins for the canonical
    text (longest member, doc_id tiebreak), majority vote with a
    deterministic tiebreak for language, earliest id as the golden
    key, and a provenance column (sorted distinct sources) so the
    merge is auditable.  This differs from dedup_keep_best (which
    keeps one whole RECORD): the golden record mixes fields from
    different members, the standard MDM semantics.

    100 TB shape: every stage is keyed on cluster_key — one hash
    shuffle for membership, windows and the lang-vote aggregate
    re-use the same partitioning, and the three per-cluster frames
    join on the same key (AQE coalesces to broadcast at small scale);
    documents shuffle once, field payloads never fan out.  Reference
    scope: flo has no curation surface — north-star extension
    (SURVEY §2 Part B dedup family)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "cluster_key", F.md5(F.substring("text", 1, 80))
    )
    wk = Window.partitionBy("cluster_key")
    # membership frame, checkpointed WITHOUT the text payload (the
    # key is already derived): it feeds the canonical-field window,
    # the language vote, and the cluster rollup — un-cut lineage
    # re-scanned documents per fork (3 scans, r9 audit; now 1)
    members = (
        docs.withColumn("n_members", F.count("*").over(wk))
        .filter(F.col("n_members") > 1)
        .select("cluster_key", "doc_id", "n_chars", "lang", "source")
        .localCheckpoint()
    )
    canon = (
        members.withColumn(
            "rn",
            F.row_number().over(
                wk.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_key",
            F.col("doc_id").cast("long").alias("canonical_doc_id"),
            F.col("n_chars").cast("long").alias("canonical_len"),
        )
    )
    langmode = (
        members.groupBy("cluster_key", "lang")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_key").orderBy(
                    F.col("c").desc(), F.col("lang").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_key", F.col("lang").alias("lang_mode"))
    )
    agg = members.groupBy("cluster_key").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("doc_id").cast("long").alias("golden_doc_id"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
            "sources"
        ),
    )
    return (
        agg.join(canon, "cluster_key")
        .join(langmode, "cluster_key")
        .select(
            "cluster_key",
            "n_members",
            "golden_doc_id",
            "canonical_doc_id",
            "canonical_len",
            "lang_mode",
            "sources",
            "total_chars",
        )
    )


@query(
    "embedding_jl_projection",
    """
    WITH q AS (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
      FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    j AS (SELECT unnest(range(0, 16)) AS dim)
    SELECT q.vec_id, CAST(j.dim AS INT) AS dim,
           CAST(sum(CASE WHEN (q.i * 1103515245 + j.dim * 12345)
                              % 97 % 2 = 0
                    THEN qv ELSE -qv END) AS BIGINT) AS proj_x1e4
    FROM q, j
    GROUP BY q.vec_id, j.dim
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims — the
    dimensionality-reduction front end for ANN/clustering at scale
    (Achlioptas 2001: +/-1 sign matrices satisfy the JL lemma; the
    sign matrix here is a DETERMINISTIC multiplicative hash of
    (input_dim, output_dim), the dp_randomized_response discipline,
    so the projection is reproducible and hash-checkable — production
    draws the seed once and broadcasts nothing either way, the matrix
    never materializes).  Components quantize to the exact 1e4 grid
    first, so every projected coordinate is an exact integer on both
    engines — no float fold order anywhere.

    100 TB shape: entirely scan-stage JVM higher-order functions
    (transform over output dims, aggregate over the zipped input) —
    NO shuffle, no UDF, no materialized projection matrix; output is
    16/64 the input width, which is the point (the int8/PQ entries
    compress per-component precision; this compresses dimensionality
    — composable).  Reference scope: flo has no vector surface —
    north-star extension (SURVEY §2 Part B embedding analytics)."""
    e = load(spark, sf_dir, "embeddings")
    q = F.expr(
        "transform(embedding,"
        " e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT))"
    )
    proj = F.expr(
        "transform(sequence(0, 15), j -> aggregate("
        " zip_with(q, sequence(0, size(q) - 1),"
        "          (qv, i) -> CASE WHEN (CAST(i AS BIGINT) * 1103515245"
        "                                + CAST(j AS BIGINT) * 12345)"
        "                               % 97 % 2 = 0"
        "                     THEN qv ELSE -qv END),"
        " 0L, (acc, x) -> acc + x))"
    )
    return (
        e.select("vec_id", q.alias("q"))
        .select("vec_id", F.posexplode(proj).alias("dim", "proj_x1e4"))
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.col("proj_x1e4").cast("long").alias("proj_x1e4"),
        )
    )


@query(
    "prefix_filter_jaccard_pairs",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               regexp_split_to_array(lower(text), '\s+'),
               x -> x <> ''))) AS token
      FROM documents
    ),
    sets AS (
      SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM tok a JOIN tok b
        ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
      SELECT id_a, id_b, i, sa.n + sb.n - i AS u
      FROM inter
      JOIN sets sa ON sa.doc_id = id_a
      JOIN sets sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b,
           floor(CAST(i AS DOUBLE) / u * 10000 + 0.5) / 10000
             AS jaccard
    FROM j WHERE 2 * i >= u
    """,
)
def prefix_filter_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (PPJoin's candidate
    rule): for Jaccard >= 0.5, two token sets MUST share a token
    among each one's first |T| - ceil(0.5|T|) + 1 tokens in a global
    rarity order (document frequency asc, token asc — rare tokens
    first makes prefixes maximally selective), so candidates come
    from a self-join restricted to PREFIX tokens only, then verify
    with the exact integer predicate 2|A∩B| >= |A∪B| — lossless by
    the prefix-filter theorem, which the oracle PROVES by computing
    the unfiltered all-pairs join.  The third blocking family in the
    catalog next to LSH banding (probabilistic) and sorted
    neighborhood (order-based): prefix filtering is the exact one.

    100 TB shape: the df table is one token-keyed count; prefix
    selection is a per-doc window over rarity rank; the candidate
    join moves ONLY prefix postings (the rarest slice of each
    posting list) instead of whole documents; verification joins are
    bounded by candidate count.  Reported jaccard is one IEEE
    division of exact integers, identical on both engines.
    Reference scope: flo has no similarity surface — north-star
    extension (SURVEY §2 Part B dedup/blocking)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    r"filter(split(lower(text), '\\s+'), x -> x <> '')"
                )
            )
        ).alias("token"),
    ).persist()  # df, prefix ranking, and verify all reuse this
    sets = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    df_tbl = tok.groupBy("token").agg(F.count("*").alias("df"))
    prefix = (
        tok.join(df_tbl, "token")
        .select(
            "doc_id",
            "token",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            )
            .alias("rnk"),
        )
        .join(sets, "doc_id")
        .filter(F.expr("rnk <= n - (n + 1) div 2 + 1"))
        .select("doc_id", "token")
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("token").alias("t")
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("token").alias("t")
    )
    cand = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = tok.select(
        F.col("doc_id").alias("id_a"), F.col("token").alias("t")
    )
    tb = tok.select(
        F.col("doc_id").alias("id_b"), F.col("token").alias("t")
    )
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "t"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    j = (
        inter.join(
            sets.select(
                F.col("doc_id").alias("id_a"), F.col("n").alias("na")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "i",
            (F.col("na") + F.col("nb") - F.col("i")).alias("u"),
        )
    )
    return j.filter(2 * F.col("i") >= F.col("u")).selectExpr(
        "id_a",
        "id_b",
        "floor(CAST(i AS DOUBLE) / u * 10000 + 0.5) / 10000 AS jaccard",
    )


@query(
    "blocking_quality_metrics",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    aug AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM base
      UNION ALL
      SELECT c_custkey + 10000000, c_mktsegment, c_acctbal
      FROM base WHERE c_custkey % 10 = 0
    ),
    r AS (
      SELECT c_custkey,
             c_mktsegment || '|' ||
               lpad(CAST(CAST(floor(c_acctbal) AS BIGINT) + 100000
                         AS VARCHAR), 7, '0') AS sort_key
      FROM aug
    ),
    o AS (
      SELECT c_custkey,
             row_number() OVER (ORDER BY sort_key, c_custkey) AS rn
      FROM r
    ),
    cand AS (
      SELECT a.c_custkey AS a_key, b.c_custkey AS b_key
      FROM o a JOIN o b ON b.rn - a.rn BETWEEN 1 AND 2
    ),
    truth AS (
      SELECT c_custkey AS a_key, c_custkey + 10000000 AS b_key
      FROM base WHERE c_custkey % 10 = 0
    ),
    found AS (
      SELECT count(*) AS n_found FROM truth t
      WHERE EXISTS (SELECT 1 FROM cand c
                    WHERE (c.a_key = t.a_key AND c.b_key = t.b_key)
                       OR (c.a_key = t.b_key AND c.b_key = t.a_key))
    ),
    tot AS (
      SELECT (SELECT count(*) FROM aug) AS n,
             (SELECT count(*) FROM cand) AS n_cand,
             (SELECT count(*) FROM truth) AS n_truth,
             (SELECT n_found FROM found) AS n_found
    )
    SELECT CAST(n AS BIGINT) AS n_records,
           CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_truth AS BIGINT) AS n_planted,
           CAST(n_found AS BIGINT) AS n_found,
           CAST((CAST(n AS HUGEINT) * (n - 1) // 2 - n_cand) * 1000000
                // (CAST(n AS HUGEINT) * (n - 1) // 2) AS BIGINT)
             AS reduction_ratio_x1e6,
           CAST(CAST(n_found AS HUGEINT) * 1000000 // n_truth AS BIGINT)
             AS pair_completeness_x1e6
    FROM tot
    """,
)
def blocking_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation (r8) — the two numbers every
    entity-resolution paper reports for a candidate generator,
    measured on sorted-neighborhood blocking with PLANTED ground
    truth: REDUCTION RATIO = 1 - |candidates| / (n(n-1)/2) (how much
    of the quadratic all-pairs space the blocker avoids) and PAIR
    COMPLETENESS = found / planted (how many true duplicate pairs
    survive blocking).  Every 10th customer is planted as an exact
    duplicate under key+1e7; the copy shares the original's sort key,
    but records BETWEEN them with the same (segment, $bucket) key can
    push the pair outside the w=3 window — so pair completeness is a
    genuine MEASUREMENT of the blocker on this data (not 1 by
    construction), and both engines measure it by replaying the
    identical window rule.  Both metrics emit on the exact 1e6 grid
    (all operands nonnegative counts; floor == trunc).

    100 TB shape: one global KEY sort (range partition) + shuffle-free
    window pairing (the sorted_neighborhood_pairs plan), a broadcast-
    sized planted-pair semi join, O(1) metric arithmetic.  The n(n-1)/2
    denominator is arithmetic, never materialized.  Reference scope:
    flo has no ER surface — north-star extension (SURVEY §2 Part B,
    dedup family)."""
    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    plant = base.filter(F.col("c_custkey") % 10 == 0)
    aug = base.unionAll(
        plant.select(
            (F.col("c_custkey") + 10000000).alias("c_custkey"),
            "c_mktsegment",
            "c_acctbal",
        )
    )
    r = aug.select(
        "c_custkey",
        F.concat(
            F.col("c_mktsegment"),
            F.lit("|"),
            F.lpad(
                (F.floor("c_acctbal").cast("long") + 100000).cast("string"),
                7,
                "0",
            ),
        ).alias("sort_key"),
    )
    w = Window.orderBy("sort_key", "c_custkey")
    o = r.select(
        "c_custkey",
        *[F.lead("c_custkey", k).over(w).alias(f"k{k}") for k in (1, 2)],
    )
    cand = None
    for k in (1, 2):
        p = o.filter(F.col(f"k{k}").isNotNull()).select(
            F.col("c_custkey").alias("a_key"), F.col(f"k{k}").alias("b_key")
        )
        cand = p if cand is None else cand.unionAll(p)
    # eager checkpoints (r9): lazy persist left the full window
    # lineage in every fork's plan — candidates are O(2(w-1)n) keys,
    # truth O(n/10); both serve the census forks without re-sorting
    cand = cand.localCheckpoint()
    truth = plant.select(
        F.col("c_custkey").alias("a_key"),
        (F.col("c_custkey") + 10000000).alias("b_key"),
    ).localCheckpoint()
    both = cand.unionAll(
        cand.select(F.col("b_key").alias("a_key"), F.col("a_key").alias("b_key"))
    )
    found = truth.join(both, ["a_key", "b_key"], "left_semi").agg(
        F.count("*").alias("n_found")
    )
    tot = (
        aug.agg(F.count("*").alias("n"))
        .crossJoin(cand.agg(F.count("*").alias("n_cand")))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
        .crossJoin(found)
    )
    D = "CAST(n AS DECIMAL(38,0))"
    return tot.selectExpr(
        "CAST(n AS BIGINT) AS n_records",
        "CAST(n_cand AS BIGINT) AS n_candidates",
        "CAST(n_truth AS BIGINT) AS n_planted",
        "CAST(n_found AS BIGINT) AS n_found",
        f"CAST(({D} * (n - 1) div 2 - n_cand) * 1000000"
        f" div ({D} * (n - 1) div 2) AS BIGINT) AS reduction_ratio_x1e6",
        "CAST(CAST(n_found AS DECIMAL(38,0)) * 1000000 div n_truth"
        " AS BIGINT) AS pair_completeness_x1e6",
    )


@query(
    "tfidf_candidate_stats",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS w FROM toks) GROUP BY 1, 2
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    rare AS (SELECT w FROM df WHERE df BETWEEN 2 AND 10),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
      JOIN rare r ON r.w = a.w
    )
    SELECT CAST((SELECT count(*) FROM toks) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM df) AS BIGINT) AS vocab_size,
           CAST((SELECT count(*) FROM df WHERE df = 1) AS BIGINT)
             AS n_hapax,
           CAST((SELECT count(*) FROM rare) AS BIGINT) AS n_rare_words,
           CAST((SELECT count(*) FROM df WHERE df > 10) AS BIGINT)
             AS n_frequent_words,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidate_pairs
    """,
)
def tfidf_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator census for the TF-IDF pair search (r8) —
    the SCALE-ROBUST companion to ``tfidf_cosine_pairs_topk``: that
    entry returns the verified pairs, which is legitimately EMPTY at
    sf0.1 (the 2<=df<=10 rare-word band thins as the corpus grows —
    observed in the r8 sf0.1 sweep), and an empty result is a weak
    check.  This entry hash-checks the PIPELINE'S STAGES instead:
    corpus size, vocabulary size, hapax count, the rare-word band
    population, the frequent tail, and the DISTINCT candidate-pair
    count the band generates — one guaranteed-non-empty row at every
    scale, certifying tokenization, df computation, band selection,
    and candidate dedup even when the final ranking is empty.  It is
    also the tuning readout: a reader picks the df band by watching
    n_rare_words/n_candidate_pairs move across scales.

    100 TB shape: same as the parent entry through the candidate
    stage (map-side-combinable tf/df, df-bounded fanout on rare
    words), then O(1) scalar aggregates.  Reference scope: flo has no
    text surface — north-star extension (SURVEY §2 Part B dedup
    family)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ws"),
    )
    tf = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df")).persist()
    rare = df.filter(F.col("df").between(2, 10)).select("w")
    a = tf.selectExpr("doc_id AS da", "w")
    b = tf.selectExpr("doc_id AS db", "w AS wb")
    cand = (
        a.join(rare, "w")
        .join(b, (F.col("w") == F.col("wb")) & (F.col("da") < F.col("db")))
        .select("da", "db")
        .distinct()
    )
    return (
        toks.agg(F.count("*").alias("n_docs"))
        .crossJoin(
            df.agg(
                F.count("*").alias("vocab_size"),
                F.sum((F.col("df") == 1).cast("long")).alias("n_hapax"),
                F.sum(F.col("df").between(2, 10).cast("long")).alias(
                    "n_rare_words"
                ),
                F.sum((F.col("df") > 10).cast("long")).alias(
                    "n_frequent_words"
                ),
            )
        )
        .crossJoin(cand.agg(F.count("*").alias("n_candidate_pairs")))
        .selectExpr(
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(vocab_size AS BIGINT) AS vocab_size",
            "CAST(n_hapax AS BIGINT) AS n_hapax",
            "CAST(n_rare_words AS BIGINT) AS n_rare_words",
            "CAST(n_frequent_words AS BIGINT) AS n_frequent_words",
            "CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs",
        )
    )


@query(
    "fellegi_sunter_linkage",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      FROM customer
    ),
    seeds AS (SELECT * FROM base WHERE c_custkey % 10 = 0),
    copies AS (
      SELECT c_custkey + 10000000 AS c_custkey, c_mktsegment,
             c_nationkey,
             bal_c + CASE WHEN c_custkey % 20 = 0 THEN 100
                     ELSE 700 END AS bal_c
      FROM seeds
    ),
    pairs AS (
      SELECT 'match' AS pair_type, s.c_custkey AS a_key,
             s.c_mktsegment = c.c_mktsegment AS f_seg,
             s.c_nationkey = c.c_nationkey AS f_nat,
             abs(s.bal_c - c.bal_c) <= 500 AS f_bal
      FROM seeds s JOIN copies c ON c.c_custkey = s.c_custkey + 10000000
      UNION ALL
      SELECT 'nonmatch', s.c_custkey,
             s.c_mktsegment = b.c_mktsegment,
             s.c_nationkey = b.c_nationkey,
             abs(s.bal_c - b.bal_c) <= 500
      FROM seeds s JOIN base b ON b.c_custkey = s.c_custkey + 1
    ),
    mu AS (
      SELECT
        (SELECT count(*) FROM pairs WHERE pair_type = 'match') AS nm,
        (SELECT count(*) FROM pairs WHERE pair_type = 'nonmatch') AS nu,
        (SELECT sum(CASE WHEN f_seg THEN 1 ELSE 0 END) FROM pairs
         WHERE pair_type = 'match') AS m_seg_c,
        (SELECT sum(CASE WHEN f_nat THEN 1 ELSE 0 END) FROM pairs
         WHERE pair_type = 'match') AS m_nat_c,
        (SELECT sum(CASE WHEN f_bal THEN 1 ELSE 0 END) FROM pairs
         WHERE pair_type = 'match') AS m_bal_c,
        (SELECT sum(CASE WHEN f_seg THEN 1 ELSE 0 END) FROM pairs
         WHERE pair_type = 'nonmatch') AS u_seg_c,
        (SELECT sum(CASE WHEN f_nat THEN 1 ELSE 0 END) FROM pairs
         WHERE pair_type = 'nonmatch') AS u_nat_c,
        (SELECT sum(CASE WHEN f_bal THEN 1 ELSE 0 END) FROM pairs
         WHERE pair_type = 'nonmatch') AS u_bal_c
    ),
    grid AS (
      SELECT greatest(m_seg_c * 1000000 // nm, 1) AS m_seg,
             greatest(m_nat_c * 1000000 // nm, 1) AS m_nat,
             greatest(m_bal_c * 1000000 // nm, 1) AS m_bal,
             greatest(u_seg_c * 1000000 // nu, 1) AS u_seg,
             greatest(u_nat_c * 1000000 // nu, 1) AS u_nat,
             greatest(u_bal_c * 1000000 // nu, 1) AS u_bal
      FROM mu
    ),
    scored AS (
      SELECT p.pair_type,
             CAST(CASE WHEN f_seg THEN 4 ELSE 0 END
                  + CASE WHEN f_nat THEN 2 ELSE 0 END
                  + CASE WHEN f_bal THEN 1 ELSE 0 END AS INT) AS pattern,
             CAST((CAST(CASE WHEN f_seg THEN m_seg
                        ELSE 1000000 - m_seg END AS HUGEINT)
                   * (CASE WHEN f_nat THEN m_nat
                      ELSE 1000000 - m_nat END)
                   * (CASE WHEN f_bal THEN m_bal
                      ELSE 1000000 - m_bal END) * 1000000)
                  // (CAST(CASE WHEN f_seg THEN u_seg
                           ELSE 1000000 - u_seg END AS HUGEINT)
                      * (CASE WHEN f_nat THEN u_nat
                         ELSE 1000000 - u_nat END)
                      * (CASE WHEN f_bal THEN u_bal
                         ELSE 1000000 - u_bal END))
                  AS BIGINT) AS weight_x1e6
      FROM pairs p CROSS JOIN grid
    )
    SELECT pair_type, pattern, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(weight_x1e6) AS BIGINT) AS weight_x1e6
    FROM scored GROUP BY pair_type, pattern
    """,
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (r8) — the
    decision-theoretic ER scorer the dedup family lacked (1969 JASA;
    the model behind Splink/RecordLinkage): per comparison field the
    m-probability (agreement given match) and u-probability
    (agreement given non-match) are ESTIMATED from labeled pairs —
    planted fuzzy duplicates (same segment/nation, balance jittered
    $1 or $7 so the <=$5 band agrees for half) as matches, each seed
    paired with its next customer as non-matches — and every pair's
    match weight is the likelihood ratio product
    prod_i (agree ? m_i/u_i : (1-m_i)/(1-u_i)), kept integer on the
    1e6 grid (three packed ratio factors multiply in HUGEINT/
    DECIMAL(38,0) before ONE division; probabilities clamp to >=1
    grid unit so no ratio degenerates).  Output: per (pair_type,
    3-bit agreement pattern) the pair count and the pattern's weight
    — matches concentrate in high-weight patterns, non-matches in
    low, which IS the Fellegi-Sunter decision rule made visible.

    100 TB shape: seeds/copies/next-pairs are keyed equi-joins; m/u
    estimation is a 1-row conditional aggregate; scoring broadcasts
    the 1-row m/u grid and runs one map-side-combinable pattern
    aggregate.  At scale the labeled pairs come from clerical review
    or EM — the scorer is unchanged.  Reference scope: flo has no ER
    surface — north-star extension (SURVEY §2 Part B dedup family)."""
    # 4-column base, checkpointed: seeds/copies/next-candidates all
    # derive from it and the labeled-pair build joined them pairwise —
    # un-cut lineage re-scanned customer per fork (4 scans, r9 audit;
    # now 1)
    base = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.expr(
            "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"
        ).alias("bal_c"),
    ).localCheckpoint()
    seeds = base.filter(F.col("c_custkey") % 10 == 0)
    copies = seeds.select(
        (F.col("c_custkey") + 10000000).alias("ck"),
        F.col("c_mktsegment").alias("seg2"),
        F.col("c_nationkey").alias("nat2"),
        (
            F.col("bal_c")
            + F.when(F.col("c_custkey") % 20 == 0, 100).otherwise(700)
        ).alias("bal2"),
    )
    nxt = base.select(
        F.col("c_custkey").alias("nk"),
        F.col("c_mktsegment").alias("seg2"),
        F.col("c_nationkey").alias("nat2"),
        F.col("bal_c").alias("bal2"),
    )
    m_pairs = seeds.join(
        copies, F.col("ck") == F.col("c_custkey") + 10000000
    ).select(
        F.lit("match").alias("pair_type"),
        (F.col("c_mktsegment") == F.col("seg2")).alias("f_seg"),
        (F.col("c_nationkey") == F.col("nat2")).alias("f_nat"),
        (F.abs(F.col("bal_c") - F.col("bal2")) <= 500).alias("f_bal"),
    )
    u_pairs = seeds.join(
        nxt, F.col("nk") == F.col("c_custkey") + 1
    ).select(
        F.lit("nonmatch").alias("pair_type"),
        (F.col("c_mktsegment") == F.col("seg2")).alias("f_seg"),
        (F.col("c_nationkey") == F.col("nat2")).alias("f_nat"),
        (F.abs(F.col("bal_c") - F.col("bal2")) <= 500).alias("f_bal"),
    )
    pairs = m_pairs.unionAll(u_pairs).persist()
    agg = pairs.groupBy().agg(
        F.sum((F.col("pair_type") == "match").cast("long")).alias("nm"),
        F.sum((F.col("pair_type") == "nonmatch").cast("long")).alias("nu"),
        *[
            F.sum(
                (
                    (F.col("pair_type") == t) & F.col(f)
                ).cast("long")
            ).alias(f"{p}_{f[2:]}_c")
            for t, p in (("match", "m"), ("nonmatch", "u"))
            for f in ("f_seg", "f_nat", "f_bal")
        ],
    )
    grid = agg.selectExpr(
        *[
            f"greatest({p}_{f}_c * 1000000 div {n}, 1) AS {p}_{f}"
            for p, n in (("m", "nm"), ("u", "nu"))
            for f in ("seg", "nat", "bal")
        ]
    )
    D = "DECIMAL(38,0)"
    scored = pairs.crossJoin(F.broadcast(grid)).selectExpr(
        "pair_type",
        "CAST(CASE WHEN f_seg THEN 4 ELSE 0 END"
        " + CASE WHEN f_nat THEN 2 ELSE 0 END"
        " + CASE WHEN f_bal THEN 1 ELSE 0 END AS INT) AS pattern",
        f"CAST((CAST(CASE WHEN f_seg THEN m_seg"
        f" ELSE 1000000 - m_seg END AS {D})"
        " * (CASE WHEN f_nat THEN m_nat ELSE 1000000 - m_nat END)"
        " * (CASE WHEN f_bal THEN m_bal ELSE 1000000 - m_bal END)"
        " * 1000000)"
        f" div (CAST(CASE WHEN f_seg THEN u_seg"
        f" ELSE 1000000 - u_seg END AS {D})"
        " * (CASE WHEN f_nat THEN u_nat ELSE 1000000 - u_nat END)"
        " * (CASE WHEN f_bal THEN u_bal ELSE 1000000 - u_bal END))"
        " AS BIGINT) AS weight_x1e6",
    )
    return scored.groupBy("pair_type", "pattern").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("weight_x1e6").cast("long").alias("weight_x1e6"),
    )


@query(
    "fellegi_sunter_em_round",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      FROM customer
    ),
    seeds AS (SELECT * FROM base WHERE c_custkey % 10 = 0),
    copies AS (
      SELECT c_custkey + 10000000 AS c_custkey, c_mktsegment,
             c_nationkey,
             bal_c + CASE WHEN c_custkey % 20 = 0 THEN 100
                     ELSE 700 END AS bal_c
      FROM seeds
    ),
    pairs AS (
      SELECT s.c_mktsegment = c.c_mktsegment AS f_seg,
             s.c_nationkey = c.c_nationkey AS f_nat,
             abs(s.bal_c - c.bal_c) <= 500 AS f_bal
      FROM seeds s JOIN copies c ON c.c_custkey = s.c_custkey + 10000000
      UNION ALL
      SELECT s.c_mktsegment = b.c_mktsegment,
             s.c_nationkey = b.c_nationkey,
             abs(s.bal_c - b.bal_c) <= 500
      FROM seeds s JOIN base b ON b.c_custkey = s.c_custkey + 1
    ),
    pat AS (
      SELECT f_seg, f_nat, f_bal, count(*) AS cnt
      FROM pairs GROUP BY 1, 2, 3
    ),
    e AS (
      -- E-step at m0=0.9, u0=0.1, p0=0.5 (grid 1e6): because the
      -- initial m/u are shared across fields, the likelihoods depend
      -- only on the number of agreeing fields
      SELECT f_seg, f_nat, f_bal, cnt,
             CAST(900000 AS HUGEINT)
               * (CASE WHEN f_seg THEN 900000 ELSE 100000 END)
               // 900000 * (CASE WHEN f_nat THEN 900000 ELSE 100000 END)
               // 900000 * (CASE WHEN f_bal THEN 900000 ELSE 100000 END)
               AS lm_scaled,
             CAST(100000 AS HUGEINT)
               * (CASE WHEN f_seg THEN 100000 ELSE 900000 END)
               // 100000 * (CASE WHEN f_nat THEN 100000 ELSE 900000 END)
               // 100000 * (CASE WHEN f_bal THEN 100000 ELSE 900000 END)
               AS lu_scaled
      FROM pat
    ),
    r AS (
      SELECT f_seg, f_nat, f_bal, cnt,
             (lm_scaled * 1000000) // (lm_scaled + lu_scaled) AS resp
      FROM e
    ),
    m AS (
      SELECT sum(cnt * resp) AS wm, sum(cnt * (1000000 - resp)) AS wu,
             sum(CASE WHEN f_seg THEN cnt * resp ELSE 0 END) AS wm_seg,
             sum(CASE WHEN f_nat THEN cnt * resp ELSE 0 END) AS wm_nat,
             sum(CASE WHEN f_bal THEN cnt * resp ELSE 0 END) AS wm_bal,
             sum(CASE WHEN f_seg THEN cnt * (1000000 - resp)
                 ELSE 0 END) AS wu_seg,
             sum(CASE WHEN f_nat THEN cnt * (1000000 - resp)
                 ELSE 0 END) AS wu_nat,
             sum(CASE WHEN f_bal THEN cnt * (1000000 - resp)
                 ELSE 0 END) AS wu_bal,
             sum(cnt) AS n_pairs
      FROM r
    )
    SELECT field,
           CAST(m1 AS BIGINT) AS m_x1e6,
           CAST(u1 AS BIGINT) AS u_x1e6,
           CAST(p1 AS BIGINT) AS prior_x1e6,
           CAST(n_pairs AS BIGINT) AS n_pairs
    FROM (
      SELECT 'seg' AS field, wm_seg * 1000000 // wm AS m1,
             wu_seg * 1000000 // wu AS u1,
             wm // n_pairs AS p1, n_pairs FROM m
      UNION ALL
      SELECT 'nat', wm_nat * 1000000 // wm, wu_nat * 1000000 // wu,
             wm // n_pairs, n_pairs FROM m
      UNION ALL
      SELECT 'bal', wm_bal * 1000000 // wm, wu_bal * 1000000 // wu,
             wm // n_pairs, n_pairs FROM m
    )
    """,
)
def fellegi_sunter_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM round for Fellegi-Sunter WITHOUT labels (r8) — how the
    m/u probabilities are actually fit when no clerical truth exists
    (Winkler's EM for record linkage; what Splink automates): over
    the UNLABELED pair pool (the same planted mixture as
    fellegi_sunter_linkage, labels discarded), (1) collapse pairs to
    the 8 agreement-pattern counts, (2) E-step: each pattern's match
    responsibility P(M|g) from the symmetric init m0=0.9, u0=0.1,
    p0=0.5 — the likelihood products stay on the 1e6 grid with
    alternating multiply-divide steps so every intermediate is an
    exact integer below 38 digits, (3) M-step: responsibility-
    weighted agreement rates give the updated m/u per field and the
    match prior.  Every division is a specified floor on the 1e6
    grid, identical on both engines.  One round is the contract
    (like pagerank/kmeans/bpe: each further round is the same plan);
    the planted mixture separates in ONE step — updated m pulls
    toward 1 for seg/nat, u toward the random-agreement rates.

    100 TB shape: pairs collapse to <=8 pattern counts in one
    map-side-combinable aggregate; E and M steps are spine-side
    arithmetic on those 8 rows.  EM over billions of pairs IS this
    shape — the sufficient statistics are the pattern counts.
    Reference scope: flo has no ER surface — north-star extension
    (SURVEY §2 Part B dedup family)."""
    base = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias(
            "bal_c"
        ),
    )
    seeds = base.filter(F.col("c_custkey") % 10 == 0)
    copies = seeds.select(
        (F.col("c_custkey") + 10000000).alias("ck"),
        F.col("c_mktsegment").alias("seg2"),
        F.col("c_nationkey").alias("nat2"),
        (
            F.col("bal_c")
            + F.when(F.col("c_custkey") % 20 == 0, 100).otherwise(700)
        ).alias("bal2"),
    )
    nxt = base.select(
        F.col("c_custkey").alias("nk"),
        F.col("c_mktsegment").alias("seg2"),
        F.col("c_nationkey").alias("nat2"),
        F.col("bal_c").alias("bal2"),
    )
    pairs = (
        seeds.join(copies, F.col("ck") == F.col("c_custkey") + 10000000)
        .select(
            (F.col("c_mktsegment") == F.col("seg2")).alias("f_seg"),
            (F.col("c_nationkey") == F.col("nat2")).alias("f_nat"),
            (F.abs(F.col("bal_c") - F.col("bal2")) <= 500).alias("f_bal"),
        )
        .unionAll(
            seeds.join(nxt, F.col("nk") == F.col("c_custkey") + 1).select(
                (F.col("c_mktsegment") == F.col("seg2")).alias("f_seg"),
                (F.col("c_nationkey") == F.col("nat2")).alias("f_nat"),
                (F.abs(F.col("bal_c") - F.col("bal2")) <= 500).alias(
                    "f_bal"
                ),
            )
        )
    )
    # materialize the <=8-row pattern sufficient statistics (r9): the
    # three per-field output branches below each recomputed the whole
    # pair pool otherwise — 12 customer scans for an 8-row E/M step
    pat = (
        pairs.groupBy("f_seg", "f_nat", "f_bal")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    D = "DECIMAL(38,0)"
    e = pat.selectExpr(
        "f_seg",
        "f_nat",
        "f_bal",
        "cnt",
        f"CAST(900000 AS {D})"
        " * (CASE WHEN f_seg THEN 900000 ELSE 100000 END)"
        " div 900000 * (CASE WHEN f_nat THEN 900000 ELSE 100000 END)"
        " div 900000 * (CASE WHEN f_bal THEN 900000 ELSE 100000 END)"
        " AS lm_scaled",
        f"CAST(100000 AS {D})"
        " * (CASE WHEN f_seg THEN 100000 ELSE 900000 END)"
        " div 100000 * (CASE WHEN f_nat THEN 100000 ELSE 900000 END)"
        " div 100000 * (CASE WHEN f_bal THEN 100000 ELSE 900000 END)"
        " AS lu_scaled",
    )
    r = e.selectExpr(
        "f_seg",
        "f_nat",
        "f_bal",
        "cnt",
        "(lm_scaled * 1000000) div (lm_scaled + lu_scaled) AS resp",
    )
    m = r.agg(
        F.sum(F.expr(f"CAST(cnt AS {D}) * resp")).alias("wm"),
        F.sum(F.expr(f"CAST(cnt AS {D}) * (1000000 - resp)")).alias("wu"),
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN f_{f} THEN CAST(cnt AS {D}) * resp"
                    " ELSE 0 END"
                )
            ).alias(f"wm_{f}")
            for f in ("seg", "nat", "bal")
        ],
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN f_{f} THEN CAST(cnt AS {D})"
                    " * (1000000 - resp) ELSE 0 END"
                )
            ).alias(f"wu_{f}")
            for f in ("seg", "nat", "bal")
        ],
        F.sum("cnt").alias("n_pairs"),
    )
    rows = []
    for f in ("seg", "nat", "bal"):
        rows.append(
            m.selectExpr(
                f"'{f}' AS field",
                f"CAST(wm_{f} * 1000000 div wm AS BIGINT) AS m_x1e6",
                f"CAST(wu_{f} * 1000000 div wu AS BIGINT) AS u_x1e6",
                "CAST(wm div n_pairs AS BIGINT) AS prior_x1e6",
                "CAST(n_pairs AS BIGINT) AS n_pairs",
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionAll(x)
    return out


@query(
    "mmr_diversified_topk",
    r"""
    WITH qv AS (
      SELECT embedding AS q FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    rel AS (
      SELECT e.vec_id AS id,
             CAST(floor(list_cosine_similarity(
                    CAST(e.embedding AS DOUBLE[]),
                    CAST(q.q AS DOUBLE[])) * 1e4 + 0.5) AS BIGINT) AS rel
      FROM embeddings e CROSS JOIN qv q
      WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
    ),
    cand AS (SELECT id, rel FROM rel ORDER BY rel DESC, id LIMIT 20),
    ce AS (
      SELECT c.id, c.rel, e.embedding
      FROM cand c JOIN embeddings e ON e.vec_id = c.id
    ),
    sim AS (
      SELECT a.id AS ia, b.id AS ib,
             CAST(floor(list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) * 1e4 + 0.5)
                  AS BIGINT) AS s
      FROM ce a CROSS JOIN ce b WHERE a.id <> b.id
    ),
    p1 AS (SELECT id, rel FROM cand ORDER BY rel DESC, id LIMIT 1),
    m2 AS (
      SELECT c.id, c.rel, 7 * c.rel - 3 * max(s.s) AS mmr
      FROM cand c JOIN sim s ON s.ia = c.id
      WHERE s.ib IN (SELECT id FROM p1)
        AND c.id NOT IN (SELECT id FROM p1)
      GROUP BY c.id, c.rel
    ),
    p2 AS (SELECT id, rel, mmr FROM m2 ORDER BY mmr DESC, id LIMIT 1),
    s2 AS (SELECT id FROM p1 UNION ALL SELECT id FROM p2),
    m3 AS (
      SELECT c.id, c.rel, 7 * c.rel - 3 * max(s.s) AS mmr
      FROM cand c JOIN sim s ON s.ia = c.id
      WHERE s.ib IN (SELECT id FROM s2)
        AND c.id NOT IN (SELECT id FROM s2)
      GROUP BY c.id, c.rel
    ),
    p3 AS (SELECT id, rel, mmr FROM m3 ORDER BY mmr DESC, id LIMIT 1),
    s3 AS (SELECT id FROM s2 UNION ALL SELECT id FROM p3),
    m4 AS (
      SELECT c.id, c.rel, 7 * c.rel - 3 * max(s.s) AS mmr
      FROM cand c JOIN sim s ON s.ia = c.id
      WHERE s.ib IN (SELECT id FROM s3)
        AND c.id NOT IN (SELECT id FROM s3)
      GROUP BY c.id, c.rel
    ),
    p4 AS (SELECT id, rel, mmr FROM m4 ORDER BY mmr DESC, id LIMIT 1),
    s4 AS (SELECT id FROM s3 UNION ALL SELECT id FROM p4),
    m5 AS (
      SELECT c.id, c.rel, 7 * c.rel - 3 * max(s.s) AS mmr
      FROM cand c JOIN sim s ON s.ia = c.id
      WHERE s.ib IN (SELECT id FROM s4)
        AND c.id NOT IN (SELECT id FROM s4)
      GROUP BY c.id, c.rel
    ),
    p5 AS (SELECT id, rel, mmr FROM m5 ORDER BY mmr DESC, id LIMIT 1)
    SELECT CAST(1 AS INT) AS pick_order, id AS doc_id,
           rel AS rel_x1e4, 7 * rel AS mmr_x1e5 FROM p1
    UNION ALL SELECT 2, id, rel, mmr FROM p2
    UNION ALL SELECT 3, id, rel, mmr FROM p3
    UNION ALL SELECT 4, id, rel, mmr FROM p4
    UNION ALL SELECT 5, id, rel, mmr FROM p5
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98 — the standard relevance-vs-redundancy diversifier for
    RAG context selection): from the top-20 cosine candidates for the
    query (lowest-vec_id embedding), greedily pick 5, each step
    maximizing ``lambda*rel(d) - (1-lambda)*max_{s in S} sim(d, s)``
    with lambda=0.7.  Every operand is a 4dp-scaled INTEGER cosine
    and the combination ``7*rel - 3*max_sim`` stays integer
    (mmr_x1e5), so the argmax at each step is integer-decidable with
    doc_id tie-break — both engines replay the identical greedy
    trajectory (the oracle unrolls the 5 steps as CTE stages; pick 1
    has no diversity term by definition).

    Plan shape: candidate generation is the distributed brute-force
    top-k (TakeOrderedAndProject over a scan-stage JVM-HOF cosine);
    the 20x20 pairwise matrix is distributed too; only the greedy
    walk runs driver-side over the COLLECTED (k*N)-bounded scaled-int
    matrix — O(420) rows by contract, the documented bounded-collect
    exception (same class as cosine_topk's query-set collect).  At
    100 TB the candidate stage swaps to the IVF/LSH index entries;
    MMR itself only ever touches N candidates.  Reference scope:
    north-star LLM-pipeline extension (SURVEY §2 LLM rows; no flo
    analog)."""
    e = load(spark, sf_dir, "embeddings")
    qv = (
        e.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )

    def dbl(c):
        return F.transform(c, lambda x: x.cast("double"))

    def cos(a, b):
        dot = F.aggregate(
            F.zip_with(dbl(a), dbl(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        na = F.aggregate(dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
        nb = F.aggregate(dbl(b), F.lit(0.0), lambda acc, x: acc + x * x)
        return F.floor(
            dot / (F.sqrt(na) * F.sqrt(nb)) * 1e4 + F.lit(0.5)
        ).cast("long")

    cand = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("vec_id").alias("id"),
            cos(F.col("embedding"), F.col("q_emb")).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "id")
        .limit(20)
    )
    ce = cand.join(e, cand["id"] == e["vec_id"]).select(
        "id", "rel", "embedding"
    )
    a, b = ce.alias("a"), ce.alias("b")
    sims = (
        a.crossJoin(b)
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            cos(F.col("a.embedding"), F.col("b.embedding")).alias("s"),
        )
    )
    # bounded driver collect BY CONTRACT: 20 candidates + 20*19 pairs
    # of scaled ints — the greedy walk is O(k*N) arithmetic.
    rel_rows = {r["id"]: r["rel"] for r in cand.collect()}
    sim_rows = {(r["ia"], r["ib"]): r["s"] for r in sims.collect()}
    picked: list[tuple[int, int, int, int]] = []
    selected: list[int] = []
    for step in range(1, 6):
        best = None
        for cid, rel in rel_rows.items():
            if cid in selected:
                continue
            if not selected:
                mmr = 7 * rel
            else:
                mmr = 7 * rel - 3 * max(
                    sim_rows[(cid, s)] for s in selected
                )
            key = (-mmr, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, mmr)
        _, cid, rel, mmr = best
        picked.append((step, cid, rel, mmr))
        selected.append(cid)
    return spark.createDataFrame(
        picked, "pick_order int, doc_id long, rel_x1e4 long, mmr_x1e5 long"
    )


@query(
    "grid_dbscan_embeddings",
    """
    WITH proj AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
                    * (CASE WHEN (i * 1103515245 + 12345) % 2 = 0
                            THEN 1 ELSE -1 END) * 10000 + 0.5)
                    AS BIGINT))) AS xs,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(floor(CAST(embedding[i] AS DOUBLE)
                    * (CASE WHEN (i * 2654435761 + 99991) % 2 = 0
                            THEN 1 ELSE -1 END) * 10000 + 0.5)
                    AS BIGINT))) AS ys
      FROM embeddings
    ),
    cells AS (
      SELECT ((xs + 10000000) // 100000) * 1000
             + ((ys + 10000000) // 100000) AS cell,
             count(*) AS n
      FROM proj GROUP BY cell
    ),
    core AS (SELECT cell, n FROM cells WHERE n >= 5),
    edges AS (
      SELECT a.cell AS ca, b.cell AS cb
      FROM core a JOIN core b
        ON abs(a.cell // 1000 - b.cell // 1000)
           + abs(a.cell % 1000 - b.cell % 1000) = 1
    ),
    rc AS (
      WITH RECURSIVE reach AS (
        SELECT cell AS node, cell AS root FROM core
        UNION
        SELECT e.cb AS node, r.root
        FROM reach r JOIN edges e ON e.ca = r.node
      )
      SELECT node, min(root) AS label FROM reach GROUP BY node
    ),
    clusters AS (
      SELECT r.label, count(*) AS n_cells, sum(c.n) AS n_points
      FROM rc r JOIN core c ON c.cell = r.node
      GROUP BY r.label
    ),
    border AS (
      SELECT count(DISTINCT c.cell) AS n_border
      FROM cells c JOIN core k
        ON abs(c.cell // 1000 - k.cell // 1000)
           + abs(c.cell % 1000 - k.cell % 1000) = 1
      WHERE c.n < 5
    )
    SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
           CAST((SELECT count(*) FROM core) AS BIGINT) AS n_core,
           CAST((SELECT n_border FROM border) AS BIGINT) AS n_border,
           CAST((SELECT count(*) FROM clusters) AS BIGINT) AS n_clusters,
           CAST((SELECT max(n_cells) FROM clusters) AS BIGINT)
             AS largest_cluster_cells,
           CAST((SELECT max(n_points) FROM clusters) AS BIGINT)
             AS largest_cluster_points
    """,
)
def grid_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BASED DBSCAN — density clustering with core / border /
    noise semantics (the cluster-shape-agnostic alternative to
    k-means, in its grid formulation: a cell is CORE if it holds >=
    minPts points, clusters are connected components of 4-adjacent
    core cells, non-core cells touching a core cell are BORDER, the
    rest noise): embeddings project to 2D by deterministic
    hash-signed coordinate sums (each term floored once at 1e-4, so
    the projection is an exact integer and the cell assignment
    integer-decidable); the core-cell adjacency graph runs through
    the repo's pointer-jumping connected components on the Spark
    side and a recursive-CTE closure on the oracle side (the
    dedup_connected_components pattern), labels = min cell id.
    The census hashes cell/core/border counts, cluster count, and
    the largest cluster's cell and point mass.

    100 TB shape: the projection is scan-stage array arithmetic;
    density reduces map-side to cells (the grid bounds ALL
    neighborhood work — no point-to-point distance joins, the trick
    that makes DBSCAN feasible distributed); the component loop runs
    on the tiny core-cell graph.  North-star extension (SURVEY §2
    LLM rows; the density member of the clustering family beside
    kmeans_lloyd_rounds and semantic_dedup's cell blocking)."""
    from flo_spark.operators.graph import connected_components

    e = load(spark, sf_dir, "embeddings")

    def signed_sum(mult: int, add: int, alias: str):
        return F.expr(
            f"""
            aggregate(
              zip_with(embedding,
                       sequence(1, size(embedding)),
                       (v, i) -> CAST(floor(CAST(v AS DOUBLE)
                           * (CASE WHEN (CAST(i AS BIGINT) * {mult}
                                         + {add}) % 2 = 0
                                   THEN 1 ELSE -1 END) * 10000 + 0.5)
                           AS BIGINT)),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)
            """
        ).alias(alias)

    proj = e.select(
        signed_sum(1103515245, 12345, "xs"),
        signed_sum(2654435761, 99991, "ys"),
    )
    # materialize the O(cells) census once (r9): core/border/cluster/
    # stats branches otherwise each re-projected every embedding —
    # 5 corpus scans for grid-level work
    cells = (
        proj.select(
            (
                F.expr("((xs + 10000000) div 100000)") * 1000
                + F.expr("((ys + 10000000) div 100000)")
            ).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    core = cells.filter(F.col("n") >= 5)
    a = core.select(F.col("cell").alias("ca"))
    b = core.select(F.col("cell").alias("cb"))
    edges = a.join(
        b,
        (
            F.abs(
                F.expr("ca div 1000") - F.expr("cb div 1000")
            )
            + F.abs(F.expr("ca % 1000") - F.expr("cb % 1000"))
        )
        == 1,
    )
    comp = connected_components(edges, src="ca", dst="cb")
    labels = (
        core.join(
            comp.withColumnRenamed("node", "cell").withColumnRenamed(
                "label", "comp_label"
            ),
            "cell",
            "left",
        )
        .select(
            "cell",
            "n",
            F.coalesce(F.col("comp_label"), F.col("cell")).alias("label"),
        )
    )
    clusters = labels.groupBy("label").agg(
        F.count("*").alias("n_cells_c"), F.sum("n").alias("n_points_c")
    )
    border = (
        cells.filter(F.col("n") < 5)
        .alias("c")
        .join(
            core.select(F.col("cell").alias("kcell")).alias("k"),
            (
                F.abs(
                    F.expr("c.cell div 1000") - F.expr("kcell div 1000")
                )
                + F.abs(F.expr("c.cell % 1000") - F.expr("kcell % 1000"))
            )
            == 1,
            "left_semi",
        )
        .agg(F.count("*").alias("n_border"))
    )
    stats = (
        cells.agg(F.count("*").alias("n_cells"))
        .crossJoin(F.broadcast(core.agg(F.count("*").alias("n_core"))))
        .crossJoin(F.broadcast(border))
        .crossJoin(
            F.broadcast(
                clusters.agg(
                    F.count("*").alias("n_clusters"),
                    F.max("n_cells_c").alias("largest_cluster_cells"),
                    F.max("n_points_c").alias("largest_cluster_points"),
                )
            )
        )
    )
    return stats.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_core").cast("long").alias("n_core"),
        F.col("n_border").cast("long").alias("n_border"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.col("largest_cluster_cells").cast("long").alias(
            "largest_cluster_cells"
        ),
        F.col("largest_cluster_points").cast("long").alias(
            "largest_cluster_points"
        ),
    )
