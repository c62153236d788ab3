"""LLM training-data text pipeline: quality scoring and filters,
tokenization (BPE), language-ID, chunking, PII redaction, packing,
mixing/sampling, decontamination, retrieval (BM25/NDCG), and privacy
audits over the documents corpus.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.

localCheckpoint contract (r10, VERDICT r9 #2 / ADVICE r9): every
``localCheckpoint()`` in this package marks a genuine fork — a derived
frame consumed by 2+ plan branches that Catalyst would otherwise
re-derive from the corpus scan per branch.  Costs to know at scale:
(a) the frame materializes in ROW format on executor-local storage,
(b) it is NOT fault-tolerant — losing an executor fails the job
instead of recomputing (acceptable for these bounded single-job
queries; a multi-hour production run should use a reliable checkpoint
dir or persist(DISK_ONLY) + unpersist), and (c) eager=True executes
the subtree AT BUILD TIME, so merely constructing the DataFrame runs
Spark jobs (explain/audit tooling pays it too).  Most checkpointed
frames here are censuses/spines/edge lists, orders of magnitude below
the corpus; the three that carry corpus text (the curation rule
stage, the chunk census, the bleu2 token tables) do so because every
downstream branch needs the text itself — their exact column sets are
pinned by tests/test_plans.py::CHECKPOINT_WIDTH_PINS so nothing wider
ever rides along.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    query,
)

__all__ = [
    "quality_score",
    "corpus_curation_filter",
    "decontamination_ngram_overlap",
    "doc_chunking",
    "pii_redaction",
    "repetition_filter",
    "train_val_test_split",
    "curation_pipeline_end2end",
    "sequence_packing",
    "token_budget_mix",
    "char_entropy",
    "bigram_conditional_probs",
    "stratified_sample",
    "global_shuffle_shard",
    "bm25_search_topk",
    "rrf_hybrid_retrieval",
    "bleu2_pairwise_eval",
    "bpe_decode_roundtrip",
    "autocomplete_prefix_index",
    "sentence_segmentation_stats",
    "heaps_law_vocab_growth",
    "good_turing_unseen_mass",
    "kl_js_divergence_sources",
    "perplexity_bigram_filter",
    "corpus_jsonl_gz_roundtrip",
    "temperature_mix_sample",
    "dataset_card",
    "text_normalize_nfc",
    "boilerplate_chunk_strip",
    "quality_classifier_score",
    "bpe_merge_steps",
    "bpe_encode_tokens",
    "langid_trigram_confusion",
    "doc_length_log2_histogram",
    "dsir_importance_resample",
    "group_leakage_safe_split",
    "pmi_collocations_topk",
    "vocab_index_encode",
    "k_anonymity_audit",
    "l_diversity_audit",
    "ndcg_search_eval",
    "dp_randomized_response",
    "inverted_index_build",
    "context_window_pairs",
    "source_overlap_matrix",
    "zipf_rank_frequency_audit",
]


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


@query(
    "quality_score",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS words,
             length(text) AS n_chars_t,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                 AS n_punct
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             greatest(len(words), 1) AS n_words,
             len(list_filter(words,
                 x -> list_contains(['the','a','of','and','to','in','is','it','for','on'], x)))
                 AS n_stop,
             n_punct, n_chars_t
      FROM w
    )
    SELECT doc_id,
           round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
           round(CAST(n_punct AS DOUBLE) / greatest(n_chars_t, 1), 4) AS punct_ratio,
           round(0.5 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0)
                 + 0.3 * (CAST(n_stop AS DOUBLE) / n_words)
                 + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars_t, 1)),
                 4) AS quality
    FROM m
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (LLM-data curation heuristic):
    length saturation + stopword density (real-language signal) +
    low-punctuation-noise.  All JVM expressions — no UDF in the path;
    at 100 TB this is a pure map stage fused into the parquet scan."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    n_words = F.greatest(F.size(words), F.lit(1))
    n_stop = F.size(
        F.filter(words, lambda x: x.isin(*_STOPWORDS))
    )
    n_chars_t = F.length("text")
    n_punct = n_chars_t - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    stop_ratio = n_stop.cast("double") / n_words
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars_t, F.lit(1))
    return d.select(
        "doc_id",
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(
            0.5 * F.least(n_words.cast("double") / 50.0, F.lit(1.0))
            + 0.3 * stop_ratio
            + 0.2 * (1.0 - punct_ratio),
            4,
        ).alias("quality"),
    )


@query(
    "corpus_curation_filter",
    r"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS n_tokens,
             CASE
               WHEN n_chars < 100 THEN 'too_short'
               WHEN NOT (text LIKE '% the %' OR text LIKE 'the %')
                 THEN 'non_english'
               WHEN len(list_distinct(string_split(text, ' '))) * 3
                    < len(string_split(text, ' ')) THEN 'low_diversity'
               ELSE 'none'
             END AS drop_reason
      FROM documents
    )
    SELECT doc_id, lang, n_chars, n_tokens, drop_reason,
           drop_reason = 'none' AS keep
    FROM scored
    """,
)
def corpus_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation decision: each document gets a
    keep/drop verdict with the FIRST failing rule as the reason
    (too-short, non-English marker, low lexical diversity — i.e.
    repetition spam) plus the token count that downstream budgeting
    needs.  Thresholds are integer arithmetic (distinct*3 < total
    instead of a float ratio) so the cross-engine hash has no rounding
    surface.  All JVM expressions —
    at 100 TB this is a single map stage fused into the parquet scan,
    and the verdict column is exactly what a curation pipeline
    partitions the corpus by before dedup/training-mix stages."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    is_en = F.col("text").like("% the %") | F.col("text").like("the %")
    reason = (
        F.when(F.col("n_chars") < 100, "too_short")
        .when(~is_en, "non_english")
        .when(
            F.size(F.array_distinct(words)) * 3 < F.size(words), "low_diversity"
        )
        .otherwise("none")
    )
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_tokens"),
        reason.alias("drop_reason"),
        (reason == "none").alias("keep"),
    )


@query(
    "decontamination_ngram_overlap",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 8
                  THEN list_distinct(list_transform(
                         generate_series(1, len(w) - 7),
                         i -> array_to_string(list_slice(w, i, i + 7), ' ')))
                  ELSE [array_to_string(w, ' ')] END AS ngrams
      FROM w
    ),
    bench AS (
      SELECT DISTINCT unnest(ngrams) AS ng, doc_id AS bench_id
      FROM g WHERE doc_id % 10 = 5
    ),
    corpus AS (
      SELECT doc_id, unnest(ngrams) AS ng FROM g WHERE doc_id % 10 <> 5
    )
    SELECT c.doc_id,
           count(DISTINCT c.ng) AS n_hit_ngrams,
           count(DISTINCT b.bench_id) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.ng = b.ng
    GROUP BY c.doc_id
    """,
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-8-gram with the held-out benchmark set (here: every 10th doc —
    eval sets are defined externally in production).  The standard
    pre-training hygiene step: n-gram collision against the eval suite
    means the doc leaks test data and must be dropped.

    Scale shape: the benchmark n-gram set is small by nature (eval
    suites are thousands of docs, not billions) — it BROADCASTS, so the
    corpus side never shuffles: explode n-grams, hash-join against the
    broadcast set in the map stage, partial-aggregate per doc.  At
    100 TB the only wide exchange is the final per-doc count combine."""
    d = load(spark, sf_dir, "documents")
    from flo_spark.operators.dedup import word_shingles

    grams = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k=8)).alias("ng")
    )
    bench = (
        grams.filter(F.col("doc_id") % 10 == 5)
        .select(F.col("ng"), F.col("doc_id").alias("bench_id"))
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 10 != 5)
    return (
        corpus.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("ng").alias("n_hit_ngrams"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
    )


@query(
    "doc_chunking",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             unnest(generate_series(0, CAST(floor((len(w) - 1) / 24) AS BIGINT)))
               AS chunk_idx
      FROM w
    )
    SELECT doc_id, chunk_idx,
           CAST(len(list_slice(w, chunk_idx * 24 + 1, chunk_idx * 24 + 32))
                AS INT) AS n_tokens,
           array_to_string(list_slice(w, chunk_idx * 24 + 1, chunk_idx * 24 + 32),
                           ' ') AS chunk_text
    FROM c
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: split each document into 32-token
    chunks with stride 24 (8-token overlap) — the fixed-context-window
    preprocessing every pre-training pipeline runs.  Pure JVM
    expressions: tokenize once, `sequence` the chunk starts, explode,
    `slice` per chunk — no Python, no shuffle at all (embarrassingly
    parallel per document; output partitioning inherits the scan)."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    chunks = (
        d.select("doc_id", words.alias("w"))
        .withColumn(
            "chunk_idx",
            F.explode(
                F.sequence(
                    F.lit(0), F.floor((F.size("w") - 1) / 24).cast("long")
                )
            ),
        )
    )
    sliced = F.slice(
        F.col("w"), F.col("chunk_idx") * 24 + 1, F.lit(32)
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(sliced).alias("n_tokens"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
    )


@query(
    "pii_redaction",
    r"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or call 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(raw,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM salted
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses and phone
    numbers via JVM regexp expressions.  The synthetic corpus contains
    no PII (lowercase word-soup), so the query PLANTS one deterministic
    email + phone per document first — the redaction rules then have
    real work, and the oracle checks both the match counts and the
    rewritten text.  DuckDB's regexp_replace needs the 'g' flag to
    match Spark's replace-all semantics."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone_re = r"555-[0-9]{4}"
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(email_re)).alias("n_emails"),
        F.regexp_count(raw, F.lit(phone_re)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(raw, email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("redacted"),
    )


@query(
    "repetition_filter",
    r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             len(words) AS n_words,
             len(list_distinct(words)) AS n_distinct_words,
             list_transform(generate_series(1, len(words) - 1),
                            i -> words[i] || ' ' || words[i + 1]) AS bigrams
      FROM w
    ),
    e AS (SELECT doc_id, n_words, n_distinct_words, unnest(bigrams) AS bigram
          FROM b),
    pb AS (SELECT doc_id, n_words, n_distinct_words, bigram, count(*) AS c
           FROM e GROUP BY doc_id, n_words, n_distinct_words, bigram)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
           CAST(max(c) AS BIGINT) AS top_bigram_n,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CASE WHEN max(c) * 25 <= CAST(sum(c) AS BIGINT)
                 AND n_distinct_words * 5 >= n_words
                THEN 1 ELSE 0 END AS keep
    FROM pb GROUP BY doc_id, n_words, n_distinct_words
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: drop documents whose
    most-frequent word bigram exceeds 4% of all bigrams or whose
    distinct-word ratio falls under 20%.  The bigram mode needs a
    per-doc frequency table, so the plan is explode -> two hash
    aggregations, both keyed on doc_id (+bigram) — high-cardinality
    keys, map-side partial aggregation, no join and no skew at any
    scale.  Verdict thresholds are pure integer arithmetic (counts
    only), so the keep/drop boundary is exact in both engines."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    # bigram construction via slice+arrays_zip: two NATIVE array ops per
    # document instead of a per-element interpreted HOF lambda (transform
    # lambdas never reach codegen — ~10x slower at corpus scale); the
    # per-bigram concat runs post-explode inside whole-stage codegen
    pair = F.explode(
        F.arrays_zip(
            F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        )
    )
    ex = d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_words"),
        pair.alias("pair"),
    ).select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.concat_ws(" ", F.col("pair.0"), F.col("pair.1")).alias("bigram"),
    )
    per_bigram = ex.groupBy(
        "doc_id", "n_words", "n_distinct_words", "bigram"
    ).agg(F.count("*").alias("c"))
    return (
        per_bigram.groupBy("doc_id", "n_words", "n_distinct_words")
        .agg(
            F.max("c").alias("top_bigram_n"),
            F.sum("c").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            "top_bigram_n",
            "n_bigrams",
            F.when(
                (F.col("top_bigram_n") * 25 <= F.col("n_bigrams"))
                & (F.col("n_distinct_words") * 5 >= F.col("n_words")),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


@query(
    "train_val_test_split",
    """
    SELECT doc_id,
           (doc_id * 2654435761) % 1000 AS bucket,
           CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
                WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 document split via a multiplicative hash
    on doc_id (Knuth's 2654435761) — reproducible across engines and
    runs, unlike random sampling, and stable under corpus growth:
    adding documents never reassigns existing ones.  Pure arithmetic,
    so it pushes into the scan and costs nothing at any scale."""
    d = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 1000
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 800, "train")
        .when(bucket < 900, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "curation_pipeline_end2end",
    r"""
    WITH scored AS (
      SELECT doc_id,
             CASE
               WHEN n_chars < 100 THEN 'too_short'
               WHEN NOT (text LIKE '% the %' OR text LIKE 'the %')
                 THEN 'non_english'
               WHEN len(list_distinct(string_split(text, ' '))) * 3
                    < len(string_split(text, ' ')) THEN 'low_diversity'
               ELSE 'none'
             END AS rule_reason,
             text
      FROM documents
    ),
    surv AS (SELECT doc_id, text FROM scored WHERE rule_reason = 'none'),
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
            FROM surv)
    ),
    dup AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(a.sh || b.sh)) >= 0.5
    ),
    final AS (
      SELECT s.doc_id,
             CASE WHEN s.rule_reason <> 'none' THEN s.rule_reason
                  WHEN d.doc_id IS NOT NULL THEN 'near_dup'
                  ELSE 'none' END AS drop_reason
      FROM scored s LEFT JOIN dup d ON d.doc_id = s.doc_id
    )
    SELECT doc_id, drop_reason, drop_reason = 'none' AS keep,
           CASE WHEN drop_reason = 'none' THEN
             CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
                  WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
                  ELSE 'test' END
           END AS split
    FROM final
    """,
)
def curation_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one dataflow: per-doc quality
    rules (map stage) -> exact near-dup drop among the rule survivors
    (inverted-index jaccard, drop the higher id of each >=0.5 pair) ->
    deterministic train/val/test assignment for the keepers.  Every
    document comes out with its fate and the FIRST stage that sealed
    it — the shape a 100 TB curation run actually materializes
    (partition by verdict, feed 'train' downstream).  Composes the
    already-verified building blocks (`corpus_curation_filter` rules,
    `ngram_jaccard_pairs`, `train_val_test_split` hash); dedup runs
    AFTER rule filtering, so the expensive stage sees only surviving
    documents."""
    from flo_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    is_en = F.col("text").like("% the %") | F.col("text").like("the %")
    rule = (
        F.when(F.col("n_chars") < 100, "too_short")
        .when(~is_en, "non_english")
        .when(
            F.size(F.array_distinct(words)) * 3 < F.size(words), "low_diversity"
        )
        .otherwise("none")
    )
    # the rule-scored stage is materialized once (exactly what a real
    # curation run does between stages): it feeds the dedup survivors
    # AND the final verdict join — un-cut lineage re-scanned and
    # re-scored the corpus per fork (2 scans, r9 audit; now 1)
    scored = d.select(
        "doc_id", "text", rule.alias("rule_reason")
    ).localCheckpoint()
    surv = scored.filter(F.col("rule_reason") == "none").select("doc_id", "text")
    dups = (
        ngram_jaccard_pairs(surv, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    reason = (
        F.when(F.col("rule_reason") != "none", F.col("rule_reason"))
        .when(F.col("__dup") == 1, "near_dup")
        .otherwise("none")
    )
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 1000
    return (
        scored.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            reason.alias("drop_reason"),
            (reason == "none").alias("keep"),
            F.when(
                reason == "none",
                F.when(bucket < 800, "train")
                .when(bucket < 900, "val")
                .otherwise("test"),
            ).alias("split"),
        )
    )


@query(
    "sequence_packing",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source, n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM (SELECT doc_id, source,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                                   x -> x <> '')) AS n_tokens
            FROM documents)
    ),
    p AS (
      SELECT doc_id, source, n_tokens, rn,
             n_tokens AS fill, 0 AS seq_idx
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             CASE WHEN p.fill + t.n_tokens > 2048
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END,
             CASE WHEN p.fill + t.n_tokens > 2048
                  THEN p.seq_idx + 1 ELSE p.seq_idx END
      FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(seq_idx AS BIGINT) AS seq_idx
    FROM p
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (the step between chunking and batching
    in a training pipeline): fill 2048-token sequences with whole
    documents in doc_id order, starting a new sequence when the next
    document would overflow; oversized documents get their own
    sequence.  The greedy scan is inherently sequential PER GROUP, so
    it runs as ``applyInPandas`` keyed by source — groups pack in
    parallel, each group's scan is a linear pandas pass over (id,
    n_tokens) pairs only (token counting stays JVM-side; text never
    reaches Python).  The oracle replays the same scan as a recursive
    CTE — two independent formulations of the fold."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
    )

    from flo_spark.functions.packing import greedy_pack

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pdf["seq_idx"] = greedy_pack(pdf["n_tokens"], 2048)
        return pdf

    return toks.groupBy("source").applyInPandas(
        pack, "doc_id long, source string, n_tokens long, seq_idx long"
    )


@query(
    "token_budget_mix",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             (doc_id * 2654435761) % 1000000007 AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens,
           CASE WHEN cum_tokens <= 800 THEN 1 ELSE 0 END AS kept
    FROM c
    """,
)
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing to a per-source TOKEN budget: documents are
    ranked by a deterministic multiplicative hash (a reproducible
    shuffle — stable under corpus growth, unlike rand()), then each
    source keeps documents while its running token total stays within
    budget.  One window per source partition — high-cardinality key,
    bounded state, no driver involvement; this is the op that turns
    'use 30% web, 20% code' into an actual document list at 100 TB.
    Pure integer arithmetic end to end (counts, hash order, cumsum),
    so the keep/drop boundary is exact in both engines."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
        ((F.col("doc_id") * F.lit(2654435761)) % 1000000007).alias("__ord"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("__ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    ).withColumn(
        "kept", F.when(F.col("cum_tokens") <= 800, 1).otherwise(0)
    )


@query(
    "char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ''), x -> x <> '')) AS c
      FROM documents
    ),
    f AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
    e AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_chars_t,
             sum(cnt * log2(cnt)) AS s
      FROM f GROUP BY doc_id
    )
    SELECT doc_id, n_chars_t,
           floor((log2(n_chars_t) - s / n_chars_t) * 1e4 + 0.5) / 1e4 AS entropy
    FROM e
    """,
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the
    information-theoretic quality signal (low entropy ~ repetitive /
    degenerate text, a compressibility proxy used alongside rule-based
    filters).  Computed as log2(n) - sum(c*log2(c))/n over the char
    histogram: explode -> two hash aggregates keyed by doc_id(+char),
    map-side partials, no joins.  The only cross-engine surface is
    log2 (transcendental, last-ulp), damped by the 4dp floor
    rounding."""
    d = load(spark, sf_dir, "documents")
    chars = F.explode(F.filter(F.split("text", ""), lambda x: x != ""))
    f = (
        d.select("doc_id", chars.alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("cnt"))
    )
    e = f.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars_t"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("__s"),
    )
    ent = F.log2("n_chars_t") - F.col("__s") / F.col("n_chars_t")
    return e.select(
        "doc_id",
        "n_chars_t",
        (F.floor(ent * 1e4 + F.lit(0.5)) / 1e4).alias("entropy"),
    )


@query(
    "bigram_conditional_probs",
    r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    b AS (
      SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                                   i -> [ws[i], ws[i + 1]])) AS bg
      FROM w WHERE len(ws) >= 2
    ),
    c2 AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS c FROM b GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS prefix_n FROM c2 GROUP BY w1)
    SELECT c2.w1 AS w1, c2.w2 AS w2, CAST(c2.c AS BIGINT) AS c,
           floor(CAST(c2.c AS DOUBLE) / c1.prefix_n * 1e4 + 0.5) / 1e4 AS p
    FROM c2 JOIN c1 ON c1.w1 = c2.w1
    ORDER BY c DESC, c2.w1, c2.w2 LIMIT 50
    """,
)
def bigram_conditional_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model statistics: P(w2 | w1) =
    c(w1,w2) / c(w1·) for the top-50 bigrams — the building block of
    statistical-LM quality filtering (score text by how probable its
    transitions are under the corpus model).  Two hash aggregates (the
    prefix totals re-aggregate the ALREADY-REDUCED bigram counts, not
    the corpus) + a join keyed on w1; top-50 compiles to
    TakeOrderedAndProject with a full (c, w1, w2) tie-break.  The
    probability is an exact int/int quotient under the IEEE floor
    trick — no cross-engine rounding surface."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    pair = F.explode(
        F.arrays_zip(
            F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        )
    )
    # O(bigram-types) count table, checkpointed: the prefix totals
    # and the probability join both derive from it — un-cut lineage
    # re-exploded and re-scanned the corpus per fork (2 scans,
    # r9 audit; now 1)
    c2 = (
        d.select(pair.alias("pair"))
        .select(F.col("pair.0").alias("w1"), F.col("pair.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    c1 = c2.groupBy(F.col("w1").alias("__w1")).agg(
        F.sum("c").alias("prefix_n")
    )
    return (
        c2.join(c1, c2["w1"] == c1["__w1"])
        .select(
            "w1",
            "w2",
            "c",
            (
                F.floor(F.col("c") / F.col("prefix_n") * 1e4 + F.lit(0.5)) / 1e4
            ).alias("p"),
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(50)
    )


@query(
    "stratified_sample",
    """
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id, n_chars FROM ranked WHERE rn <= 50
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly min(50, |stratum|)
    documents per language, selected by a multiplicative hash of doc_id
    (Knuth constant) so the sample is stable across runs and engines —
    no RNG, no seed plumbing, reproducible from the data alone.  The
    training-data use case is per-source/per-language quota sampling.

    Scale: one window shuffle partitioned by the stratum key.  Strata
    are low-cardinality (languages), so a hot stratum concentrates on
    one task; at 100 TB, pre-filter with an estimated hash threshold
    per stratum (keep ~2x the quota by key range, cheap scan-side
    predicate) before the exact window trims to the quota — same
    result, bounded task input."""
    docs = load(spark, sf_dir, "documents")
    key = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("lang", "doc_id", "n_chars")
    )


@query(
    "global_shuffle_shard",
    """
    WITH k AS (
      SELECT doc_id,
             (doc_id * 2654435761) % 1000000007 AS skey,
             CAST((doc_id * 2654435761) % 1000000007 % 64 AS INT) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY skey, doc_id) AS BIGINT)
             AS pos
    FROM k
    """,
)
def global_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    last step of a training-data pipeline ("shuffle the corpus, write
    N shards for the data loader").  A multiplicative hash mod a large
    prime gives a reproducible pseudo-random permutation key; shard =
    key mod N; pos = each document's position within its shard.

    100 TB shape: NO global sort.  A total order over 100 TB needs a
    range-partitioned sort (sampling pass + skew risk); a sharded
    training order only needs hash-bucketing into N shards plus an
    in-shard sort, which is exactly ONE hash shuffle + local sort —
    the writer form is ``df.repartition(N, "shard")
    .sortWithinPartitions("skey").write.partitionBy("shard")``.  The
    window here computes the same per-shard positions declaratively
    (one shuffle on shard, in-partition sort, zero exchange after),
    and the hash is pure arithmetic so it pushes into the scan.
    Sizing contract: one shard = one task, so N is chosen to make a
    shard loader-sized (~1 GB) — at 100 TB that means tens of
    thousands of shards, keeping every sort task bounded by the shard
    size the data loader wants anyway (64 here only fits the test
    corpus)."""
    d = load(spark, sf_dir, "documents")
    skey = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)
    shd = (skey % 64).cast("int")
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        d.select("doc_id", skey.alias("skey"), shd.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


@query(
    "bm25_search_topk",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    dls AS (SELECT doc_id, len(ws) AS dl FROM toks),
    stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dls
    ),
    tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
      WHERE w IN ('hash', 'merge', 'window', 'dup')
      GROUP BY doc_id, w
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl
                               / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
               AS part_score
      FROM tf
      JOIN df USING (term)
      JOIN dls d ON d.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           floor(sum(part_score) * 1e4 + 0.5) / 1e4 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search over the corpus: top-20 documents for the
    query {hash, merge, window, dup} under Okapi BM25 (k1=1.2, b=0.75):
    score(d) = SUM_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5)) — the standard retrieval
    scorer behind corpus search / quality-by-query curation.

    Every model input is an exact integer (tf, df, dl, N, sum_dl), so
    both engines evaluate the same float expression over identical
    operands; avgdl is one exact integer quotient, and the final score
    is rounded 4dp before the (score, doc_id)-tie-broken top-k cut.

    100 TB shape: the exploded token stream is filtered to the query's
    terms BEFORE any shuffle (the IN-set predicate sits directly on the
    generator output), so the only corpus-wide exchange is the
    map-side-combinable (doc_id, term) tf aggregate over matching
    tokens; df re-aggregates the already-reduced tf relation and comes
    back as a |query|-row broadcast, the corpus stats are a single-row
    broadcast, and the top-k compiles to TakeOrderedAndProject — no
    global sort, no all-token join."""
    terms = ["hash", "merge", "window", "dup"]
    k1, b = 1.2, 0.75
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # ONE corpus scan (was 3, r9 audit §2: the tokenized frame forked
    # into the length/stats path and the tf path, and tf itself forked
    # again downstream): per doc, the length and the query-term
    # matches reduce scan-stage to a narrow frame — |matched| bounded
    # by occurrences of the 4 query terms — checkpointed once; the
    # corpus stats and the tf table both derive from it, and tf
    # (|q|-bounded rows per doc) is checkpointed for its own forks.
    pre = d.select(
        "doc_id",
        F.size(words).alias("dl"),
        F.filter(words, lambda x: x.isin(*terms)).alias("matched"),
    ).localCheckpoint()
    stats = pre.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        pre.select("doc_id", "dl", F.explode("matched").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    joined = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * ((1 - b) + b * F.col("dl") / avgdl))
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            (F.floor(F.sum(part) * 1e4 + F.lit(0.5)) / 1e4).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "perplexity_bigram_filter",
    r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    vocab AS (
      SELECT count(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w)
    ),
    db AS (
      SELECT doc_id, bg[1] AS w1, bg[2] AS w2, count(*) AS m
      FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                        i -> [ws[i], ws[i + 1]])) AS bg
        FROM w WHERE len(ws) >= 2
      ) GROUP BY doc_id, 2, 3
    ),
    c2 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c FROM db GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS prefix_n FROM c2 GROUP BY w1),
    scored AS (
      SELECT db.doc_id,
             CAST(sum(db.m) AS BIGINT) AS n_bigrams,
             floor(-sum(db.m * ln((c2.c + 1.0) / (c1.prefix_n + v.v)))
                   / sum(db.m) * 1e4 + 0.5) / 1e4 AS avg_nll
      FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab v
      GROUP BY db.doc_id
    )
    SELECT doc_id, n_bigrams, avg_nll, avg_nll <= 3.45 AS keep
    FROM scored
    """,
)
def perplexity_bigram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filtering (the CCNet/KenLM recipe,
    statistical edition): score every document by its average negative
    log-likelihood under an add-one-smoothed bigram LM trained on the
    corpus itself — P(w2|w1) = (c(w1,w2)+1)/(c(w1.)+V) — and emit a
    keep verdict at a fixed nll threshold.  Template/boilerplate text
    scores low (predictable transitions), noise scores high.

    The LM counts (c, prefix_n, V, m) are exact integers; the only
    float surface is ln of identical rationals and the per-doc
    sum(m*ln p)/sum(m), rounded 4dp; the keep verdict compares the
    ROUNDED score so both engines cut identically.

    100 TB shape: the model IS a DataFrame — per-doc bigram
    multiplicities reduce map-side, the corpus model c2 re-aggregates
    the already-reduced db relation (never re-reads the corpus), c1
    re-aggregates c2, and scoring joins db->c2 on the 2-word key and
    ->c1 on w1, both AQE-planned shuffles keyed on model keys (a
    100 TB corpus LM does not broadcast); the vocabulary size is a
    single-row broadcast.  No Python anywhere in the path.
    r9 optimization: the per-doc bigram-multiplicity table ``db`` is
    checkpointed — the production recipe materializes the LM training
    counts once; previously c2, c1, and the scoring join each
    re-derived db from the raw corpus scan (4 documents scans in the
    static plan, now 1: the vocabulary pass)."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(words)
    pair = F.explode(
        F.arrays_zip(
            F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        )
    )
    db = (
        d.where(n >= 2)
        .select("doc_id", pair.alias("pair"))
        .select(
            "doc_id",
            F.col("pair.0").alias("w1"),
            F.col("pair.1").alias("w2"),
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("m"))
        .localCheckpoint()
    )
    c2 = db.groupBy("w1", "w2").agg(F.sum("m").alias("c"))
    c1 = c2.groupBy(F.col("w1").alias("__w1")).agg(
        F.sum("c").alias("prefix_n")
    )
    vocab = d.select(F.explode(words).alias("u")).agg(
        F.count_distinct("u").alias("v")
    )
    joined = (
        db.join(c2, ["w1", "w2"])
        .join(c1, db["w1"] == c1["__w1"])
        .crossJoin(F.broadcast(vocab))
    )
    nll = F.col("m") * F.log(
        (F.col("c") + F.lit(1.0)) / (F.col("prefix_n") + F.col("v"))
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            (
                F.floor(-F.sum(nll) / F.sum("m") * 1e4 + F.lit(0.5)) / 1e4
            ).alias("avg_nll"),
        )
        .withColumn("keep", F.col("avg_nll") <= 3.45)
    )


@query(
    "corpus_jsonl_gz_roundtrip",
    """
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_text_bytes,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents GROUP BY source, lang
    """,
)
def corpus_jsonl_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped-JSONL corpus interchange — THE wire format of public
    text datasets (C4, RedPajama, CommonCrawl derivatives ship as
    .jsonl.gz shards).  Export the documents table as gzip JSONL
    shards, scan them back with an explicit schema, and aggregate
    per (source, lang); doc ids, counts, and exact UTF-8 byte lengths
    must survive the round trip, hash-checked against SQL computing
    the same from the source parquet.

    100 TB shape: gzip is NOT splittable — one .json.gz file is one
    scan task forever, so parallelism is set at WRITE time by the
    shard count (repartition(8) here; at scale, total_bytes/~1 GB
    shards).  The read side supplies the schema explicitly: schema
    inference over JSONL is a full extra pass over the corpus."""
    from flo_spark.queries import scratch_dir

    d = load(spark, sf_dir, "documents")
    tmp = scratch_dir("flo_jsonlgz_") + "/corpus"
    d.repartition(8).write.option("compression", "gzip").mode(
        "overwrite"
    ).json(tmp)
    schema = (
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    back = spark.read.schema(schema).json(tmp)
    return back.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_text_bytes"),
        F.sum("doc_id").alias("sum_ids"),
    )


@query(
    "temperature_mix_sample",
    """
    WITH c AS (SELECT source, count(*) AS c_docs FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(sqrt(CAST(c_docs AS DOUBLE))) AS DOUBLE) AS z FROM c
    ),
    quota AS (
      SELECT source,
             CAST(floor(200 * sqrt(CAST(c_docs AS DOUBLE)) / tot.z)
                  AS BIGINT) AS quota
      FROM c CROSS JOIN tot
    ),
    ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY (d.doc_id * 2654435761) % 4294967296, d.doc_id
             ) AS rn
      FROM documents d
    )
    SELECT r.source, r.doc_id, q.quota
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rn <= q.quota
    """,
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual/multi-source
    rebalancing recipe: sample source s proportional to c_s^alpha,
    alpha = 0.5, budget N = 200 docs): big sources are down-weighted,
    small sources up-weighted, quota_s = floor(N * sqrt(c_s) /
    SUM sqrt(c)).  Selection within a source is the deterministic
    multiplicative-hash order (seedless, engine-portable — the same
    Knuth-constant permutation as `stratified_sample`), so the whole
    mix is reproducible from the data alone.

    IEEE sqrt is correctly rounded in both engines and quotas divide
    sums of a few per-source terms, so the floor is stable; every
    other input is an exact integer.

    100 TB shape: one count aggregate (map-side combinable), a
    source-cardinality quota table that broadcasts by construction
    (it is an aggregate over the source key), and ONE window shuffle
    partitioned by source for the in-source ranking — same skew note
    as `stratified_sample`: pre-trim each source with a hash-threshold
    scan predicate at real scale before the exact window."""
    d = load(spark, sf_dir, "documents")
    # O(sources) census, checkpointed: it forks into the normalizer
    # and the quota table, and un-cut lineage re-scanned the corpus
    # per fork (3 scans, r9 audit).  Remaining scans: this one plus
    # the (source, doc_id)-pruned ranking pass — 2 total.
    c = d.groupBy("source").agg(
        F.count("*").alias("c_docs")
    ).localCheckpoint()
    tot = c.agg(
        F.sum(F.sqrt(F.col("c_docs").cast("double"))).alias("z")
    )
    quota = c.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(
            F.lit(200) * F.sqrt(F.col("c_docs").cast("double")) / F.col("z")
        )
        .cast("long")
        .alias("quota"),
    )
    key = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select("source", "doc_id", "quota")
    )


@query(
    "dataset_card",
    """
    WITH t AS (
      SELECT source, lang, n_chars,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tokens
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS avg_chars,
           floor(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS en_fraction
    FROM t GROUP BY source
    """,
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics — the per-source summary table every
    corpus release ships (docs, token totals, language coverage,
    length distribution, English share).  One pass, one aggregate:
    everything is computed in a single map-side-combinable groupBy
    over the scan (token counts are a size() on the split array,
    evaluated in the scan stage project); the exact distinct-language
    count adds a second (source, lang)-keyed phase, so at 100 TB the
    report costs two reduced shuffles of per-source partials — still
    the cheapest full-corpus report the engine offers.  Ratios are
    exact int/int quotients under the IEEE floor trick."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = d.select(
        "source", "lang", "n_chars", F.size(words).alias("n_tokens")
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.floor(F.sum("n_chars") / F.count("*") * 1e4 + F.lit(0.5)) / 1e4
        ).alias("avg_chars"),
        (
            F.floor(
                F.sum((F.col("lang") == "en").cast("long"))
                / F.count("*")
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("en_fraction"),
    )


@query(
    "text_normalize_nfc",
    """
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
      UNION ALL
      SELECT doc_id + 300000,
             'cafe' || chr(769) || '  na' || chr(771) || 'ive' || chr(9)
               || chr(160) || 'te' || chr(769) || 'xt' || chr(13)
               || chr(10) || ' tail' || chr(7) || chr(127)
               || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id < 10
    )
    SELECT doc_id,
           CAST(length(norm) AS BIGINT) AS clean_len,
           norm <> text AS changed,
           substr(norm, 1, 30) AS head
    FROM (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 replace(nfc_normalize(text), chr(160), ' '),
                 '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
               '[ \\t\\r\\n]+', ' ', 'g')) AS norm
      FROM base
    )
    """,
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization for training corpora: NFC
    composition (combining marks folded into precomposed forms), NBSP
    mapped to space, C0/DEL control characters stripped, whitespace
    runs collapsed to single spaces, ends trimmed.  The planted
    contract re-enters the first 10 docs wrapped in decomposed
    accents (e + U+0301), NBSP, tab/CRLF runs, BEL and DEL — each
    provably changes under normalization and the oracle applies the
    identical pipeline through DuckDB's utf8proc ``nfc_normalize``,
    so the hash match pins the two engines' Unicode tables against
    each other.

    NFC needs real Unicode data tables, which no JVM built-in
    expression exposes — this is a sanctioned Arrow-batched
    mapInPandas hop (one ``unicodedata.normalize`` pass per batch),
    NOT a row-at-a-time UDF.  100 TB shape: a narrow scan-stage map —
    zero shuffles, composes with any downstream partitioning; the
    whitespace/control steps use explicit character classes shared
    verbatim with the oracle so RE2-vs-Python ``\\s`` semantics can
    never diverge."""
    import re as _re
    import unicodedata

    import pandas as pd  # noqa: F401  (mapInPandas contract)

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400).select(
        "doc_id", "text"
    )
    planted = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(
                F.lit("cafe\u0301  na\u0303ive\t\u00a0te\u0301xt\r\n tail\x07\x7f"),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    ctrl = _re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    ws = _re.compile("[ \t\r\n]+")

    def norm_batches(batches):
        for pdf in batches:
            norm = []
            for s in pdf["text"]:
                n = unicodedata.normalize("NFC", s).replace(" ", " ")
                n = ws.sub(" ", ctrl.sub("", n)).strip()
                norm.append(n)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "clean_len": [len(n) for n in norm],
                    "changed": [n != s for n, s in zip(norm, pdf["text"])],
                    "head": [n[:30] for n in norm],
                }
            )
            yield out

    return d.unionByName(planted).mapInPandas(
        norm_batches,
        "doc_id long, clean_len long, changed boolean, head string",
    )


@query(
    "boilerplate_chunk_strip",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tot AS (SELECT count(*) AS n_docs FROM documents),
    c AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx,
             array_to_string(ws[i*3+1 : i*3+3], ' ') AS chunk
      FROM d, UNNEST(range((len(ws) + 2) // 3)) AS t(i)
    ),
    dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.idx, c.chunk
      FROM c JOIN dfreq USING (chunk), tot
      WHERE dfreq.df * 200 <= tot.n_docs
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY idx) AS cleaned
      FROM kept GROUP BY doc_id
    ),
    ntot AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id)
    SELECT n.doc_id AS doc_id,
           n.n_chunks AS n_chunks,
           n.n_chunks - coalesce(a.n_kept, 0) AS n_removed,
           coalesce(a.cleaned, '') AS cleaned_text
    FROM ntot n LEFT JOIN agg a USING (doc_id)
    """,
)
def boilerplate_chunk_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal by CORPUS frequency:
    a text unit repeated across more than 0.5% of documents (nav menus,
    cookie banners, license headers) is stripped from every document
    that contains it, and the document is reassembled in original
    order.  Re-based on non-overlapping 3-word chunks because this
    corpus has no line structure; the unit is a parameter, not the
    semantics.  Distinct from span_dedup_stats (keep-FIRST exact span
    dedup): here removal is frequency-thresholded and hits every
    occurrence including the first.

    100 TB shape: chunking is shuffle-free in the scan stage; the
    document-frequency table shuffles (chunk -> count distinct) once;
    the verdict join is chunk-keyed; reassembly is one doc_id shuffle
    with an in-group sort.  The corpus-size scalar is a 1-row broadcast
    (no driver collect).  The frequency threshold is RELATIVE
    (df * 200 <= n_docs), so the operator's behavior is stable as the
    corpus grows.  r9 optimization: the exploded chunk table ``c`` is
    checkpointed — its three consumers (document frequencies, the
    verdict join, per-doc chunk totals) previously each re-derived it
    from the raw corpus scan (4 documents scans in the static plan,
    now 2: the chunk build and the 1-row corpus count)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    tot = d.agg(F.count("*").alias("n_docs"))
    c = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, (size(ws) + 2) div 3 - 1),"
                " i -> array_join(slice(ws, i*3 + 1, 3), ' '))"
            )
        ).alias("idx", "chunk"),
    ).select(
        "doc_id", F.col("idx").cast("long").alias("idx"), "chunk"
    ).localCheckpoint()
    dfreq = c.groupBy("chunk").agg(F.countDistinct("doc_id").alias("df"))
    kept = (
        c.join(dfreq, "chunk")
        .join(F.broadcast(tot))
        .filter(F.col("df") * 200 <= F.col("n_docs"))
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("cleaned"),
    )
    ntot = c.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return ntot.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
    )


@query(
    "quality_classifier_score",
    """
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             len(list_filter(string_split(text, ' '),
                             w -> w = 'the' OR w = 'a')) AS n_stop,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           (1000 * n_distinct) // n_words AS r_distinct,
           (1000 * n_stop) // n_words AS r_stop,
           (10 * n_chars) // n_words AS r_wlen,
           3 * ((1000 * n_distinct) // n_words)
             - 20 * ((1000 * n_stop) // n_words)
             + 7 * ((10 * n_chars) // n_words) AS score,
           (3 * ((1000 * n_distinct) // n_words)
             - 20 * ((1000 * n_stop) // n_words)
             + 7 * ((10 * n_chars) // n_words)) >= 1500 AS keep
    FROM f
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier (the FineWeb-Edu /
    DCLM-style 'model-based quality filtering' stage, re-based on an
    interpretable linear model so the contract is EXACT): engineered
    features — lexical diversity, stopword rate, mean word length —
    combined with integer weights into a score and a keep verdict.

    Every feature is an integer-scaled ratio computed with integer
    division, so the score is bit-identical on any engine — no
    sigmoid/exp whose libm rounding could flip a verdict at a ulp
    boundary (the q7 lesson applied to ML scoring).  A real deployment
    swaps the weights for learned ones (the shape is a dot product
    either way); the Spark plan is a pure scan-stage projection —
    shuffle-free, whole-stage-codegen, zero Python — so it runs at
    scan speed over 100 TB."""
    d = load(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n_words"),
        F.expr("size(array_distinct(split(text, ' ')))").alias("n_distinct"),
        F.expr(
            "size(filter(split(text, ' '), w -> w = 'the' OR w = 'a'))"
        ).alias("n_stop"),
        F.length("text").alias("n_chars"),
    )
    r_distinct = F.expr("(1000 * n_distinct) div n_words")
    r_stop = F.expr("(1000 * n_stop) div n_words")
    r_wlen = F.expr("(10 * n_chars) div n_words")
    score = 3 * r_distinct - 20 * r_stop + 7 * r_wlen
    return f.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        r_distinct.alias("r_distinct"),
        r_stop.alias("r_stop"),
        r_wlen.alias("r_wlen"),
        score.alias("score"),
        (score >= 1500).alias("keep"),
    )


def _bpe_step_sql(prev: str, k: int) -> str:
    """One unrolled BPE merge step for the DuckDB oracle: pair counts
    over the previous step's token sequences, deterministic top pair
    (count desc, then lexicographic; equal-halves pairs excluded so
    mark-based application is exact), merge application, corpus size."""
    return f"""
    pc{k} AS (
      SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS pcnt
      FROM {prev}, UNNEST(range(1, len(toks))) AS t(i)
      GROUP BY toks[i], toks[i+1]
    ),
    m{k} AS (SELECT l, r, pcnt FROM pc{k} WHERE l <> r
             ORDER BY pcnt DESC, l, r LIMIT 1),
    s{k} AS (
      SELECT word, cnt,
             list_filter(
               list_transform(range(1, len(toks) + 1), i ->
                 CASE
                   WHEN i < len(toks) AND toks[i] = m{k}.l
                        AND toks[i+1] = m{k}.r
                     THEN toks[i] || toks[i+1]
                   WHEN i > 1 AND toks[i-1] = m{k}.l AND toks[i] = m{k}.r
                     THEN NULL
                   ELSE toks[i]
                 END),
               x -> x IS NOT NULL) AS toks
      FROM {prev}, m{k}
    ),
    ta{k} AS (SELECT CAST(sum(cnt * len(toks)) AS BIGINT) AS tokens_after
              FROM s{k})"""


@query(
    "bpe_merge_steps",
    f"""
    WITH wf AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    s0 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS toks FROM wf),
    {_bpe_step_sql('s0', 1)},
    {_bpe_step_sql('s1', 2)},
    {_bpe_step_sql('s2', 3)}
    SELECT 1 AS step, m1.l AS left_tok, m1.r AS right_tok,
           m1.pcnt AS pair_count, ta1.tokens_after AS tokens_after
    FROM m1, ta1
    UNION ALL
    SELECT 2, m2.l, m2.r, m2.pcnt, ta2.tokens_after FROM m2, ta2
    UNION ALL
    SELECT 3, m3.l, m3.r, m3.pcnt, ta3.tokens_after FROM m3, ta3
    """,
)
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING as a DataFrame program: three merge
    steps learned from corpus word frequencies (Sennrich et al. 2016
    re-based on Spark), each step = count adjacent token pairs
    weighted by word frequency, pick the most frequent pair, merge
    every occurrence across the vocabulary.

    Exactness: the top pair is deterministic (count desc, then
    lexicographic), pairs with EQUAL halves are excluded from
    selection so mark-based merge application (absorb the right token
    of every (l,r) adjacency) is provably identical to greedy
    left-to-right — marks can never be adjacent when l != r.  Output
    per step: the learned merge, its count, and the corpus token count
    after applying it — the tokens_after column pins the APPLICATION,
    not just the selection.  The oracle unrolls the three steps as
    chained CTEs (the PageRank discipline).

    100 TB shape: this IS the real structure of BPE training — ONE
    corpus-scale shuffle builds the word-frequency table, which is
    vocabulary-sized (tiny) from then on; every merge iteration
    operates on that reduced table, and the only driver-bound data is
    the 1-row top-pair frame broadcast per step."""
    _seqs, steps = _bpe_train(spark, sf_dir)
    return steps[0].unionByName(steps[1]).unionByName(steps[2])


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the 3-step BPE merge loop; returns (final word->tokens
    vocabulary frame, per-step merge summary frames).  Shared by the
    training entry (reports the steps) and the encode entry (applies
    the final vocabulary to the corpus)."""
    wf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        # consecutive/leading/trailing spaces yield empty words whose
        # empty token array would crash ANSI element_at downstream
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    seqs = wf.select(
        "word", "cnt", F.expr("regexp_extract_all(word, '.', 0)").alias("toks")
    )
    merge_expr = """
      filter(
        transform(sequence(1, size(toks)), i ->
          CASE
            WHEN i < size(toks) AND element_at(toks, i) = ml
                 AND try_element_at(toks, i + 1) = mr
              THEN concat(element_at(toks, i), try_element_at(toks, i + 1))
            WHEN i > 1 AND try_element_at(toks, greatest(i - 1, 1)) = ml
                 AND element_at(toks, i) = mr
              THEN NULL
            ELSE element_at(toks, i)
          END),
        x -> x IS NOT NULL)"""
    steps = []
    for step in (1, 2, 3):
        pairs = (
            seqs.select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, greatest(size(toks) - 1, 1)),"
                        " i -> struct(element_at(toks, i) AS l,"
                        " try_element_at(toks, i + 1) AS r))"
                    )
                ).alias("p"),
            )
            .select("cnt", "p.l", "p.r")
            .filter(F.col("r").isNotNull())
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").alias("pcnt"))
            .filter(F.col("l") != F.col("r"))
            .orderBy(F.col("pcnt").desc(), "l", "r")
            .limit(1)
        )
        seqs = seqs.crossJoin(
            F.broadcast(
                top.select(F.col("l").alias("ml"), F.col("r").alias("mr"))
            )
        ).select("word", "cnt", F.expr(merge_expr).alias("toks"))
        # cut the per-step plan growth: the vocab table is tiny and the
        # next step re-reads it 3x (pairs, merge, corpus size)
        seqs = seqs.localCheckpoint()
        ta = seqs.agg(
            F.sum(F.col("cnt") * F.size("toks")).alias("tokens_after")
        )
        steps.append(
            top.select(
                F.lit(step).alias("step"),
                F.col("l").alias("left_tok"),
                F.col("r").alias("right_tok"),
                F.col("pcnt").alias("pair_count"),
            ).crossJoin(F.broadcast(ta))
        )
    return seqs, steps


@query(
    "bpe_encode_tokens",
    f"""
    WITH wf AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    s0 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS toks FROM wf),
    {_bpe_step_sql('s0', 1)},
    {_bpe_step_sql('s1', 2)},
    {_bpe_step_sql('s2', 3)},
    w AS (SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) WHERE word <> '')
    SELECT w.doc_id AS doc_id,
           count(*) AS n_words,
           CAST(sum(len(s3.toks)) AS BIGINT) AS n_tokens_bpe
    FROM w JOIN s3 ON s3.word = w.word
    GROUP BY w.doc_id
    """,
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODING with the trained BPE vocabulary: every
    document's words join the word->tokens table learned by
    ``bpe_merge_steps``'s 3 merges, yielding the exact post-merge
    token count per document — the token accounting an LLM data
    pipeline runs before packing/budgeting, using a REAL trained
    tokenizer rather than a whitespace proxy.

    100 TB shape: the vocabulary is tiny relative to the corpus, so
    the encode join auto-broadcasts (no hint — at an extreme
    vocabulary scale it degrades to a word-keyed shuffle, still
    correct); the corpus is scanned once, exploded to words, and
    aggregated straight back to doc_id — two shuffles total, nothing
    driver-side but the per-step 1-row top-pair frames."""
    seqs, _steps = _bpe_train(spark, sf_dir)
    vocab = seqs.select("word", F.size("toks").alias("n_toks"))
    words = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_toks").alias("n_tokens_bpe"),
        )
    )


@query(
    "langid_trigram_confusion",
    """
    WITH tri AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, length(text) - 1),
                                   i -> substr(text, CAST(i AS INT), 3)))
                 AS tg
      FROM documents WHERE length(text) >= 3
    ),
    prof AS (
      SELECT lang AS p_lang, tg FROM (
        SELECT lang, tg, row_number() OVER (
                 PARTITION BY lang ORDER BY count(*) DESC, tg) AS rk
        FROM tri GROUP BY lang, tg
      ) WHERE rk <= 20
    ),
    dtg AS (SELECT DISTINCT doc_id, lang, tg FROM tri),
    overlap AS (
      SELECT d.doc_id, d.lang AS lang_actual, p.p_lang,
             count(*) AS n_hits
      FROM dtg d JOIN prof p USING (tg)
      GROUP BY d.doc_id, d.lang, p.p_lang
    ),
    pred AS (
      SELECT doc_id, lang_actual, p_lang AS lang_predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY n_hits DESC, p_lang) AS rk
        FROM overlap
      ) WHERE rk = 1
    ),
    all_docs AS (SELECT doc_id, lang AS lang_actual FROM documents)
    SELECT a.lang_actual,
           coalesce(p.lang_predicted, 'unk') AS lang_predicted,
           count(*) AS n_docs
    FROM all_docs a LEFT JOIN pred p USING (doc_id)
    GROUP BY a.lang_actual, coalesce(p.lang_predicted, 'unk')
    """,
)
def langid_trigram_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification, TRAINED on the
    labeled corpus (the real n-gram recipe behind fastText-style
    lang-id, integer-exact edition): per language, the 20 most
    frequent trigrams form a profile; each document is classified to
    the profile sharing the most distinct trigrams (deterministic
    tie-breaks: count desc then trigram/lang asc); output is the
    actual x predicted confusion matrix.  On this synthetic corpus the
    labels are independent of the text, so the matrix REPORTS that
    honestly (near-uniform rows) — the operator contract is the
    training + classification pipeline, which is exact.

    100 TB shape: trigram explode is scan-stage; profile training is
    one (lang, trigram) shuffle cut to top-20 per language by a
    bounded window; the profile (n_langs x 20 rows) auto-broadcasts
    into the classification join; per-doc argmax is a doc-keyed
    window over <= n_langs rows."""
    d = load(spark, sf_dir, "documents")
    tri = d.filter(F.length("text") >= 3).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
            )
        ).alias("tg"),
    )
    # reduce the exploded stream ONCE to per-doc trigram counts and
    # checkpoint that (smaller than the raw explode); the language
    # profile re-aggregates the partials and the distinct per-doc
    # stream is its key set — before (r9 audit) each fork re-scanned
    # and re-exploded the corpus (3 scans; now 2: this one plus the
    # 2-column confusion-matrix base pass).
    dcnt = (
        tri.groupBy("doc_id", "lang", "tg")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    prof_w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("tg")
    )
    prof = (
        dcnt.groupBy("lang", "tg")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("rk", F.row_number().over(prof_w))
        .filter(F.col("rk") <= 20)
        .select(F.col("lang").alias("p_lang"), "tg")
    )
    dtg = dcnt.select("doc_id", "lang", "tg")
    overlap = (
        dtg.join(prof, "tg")
        .groupBy("doc_id", F.col("lang").alias("lang_actual"), "p_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    pred_w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("p_lang")
    )
    pred = (
        overlap.withColumn("rk", F.row_number().over(pred_w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("p_lang").alias("lang_predicted"))
    )
    return (
        d.select("doc_id", F.col("lang").alias("lang_actual"))
        .join(pred, "doc_id", "left")
        .groupBy(
            "lang_actual",
            F.coalesce(F.col("lang_predicted"), F.lit("unk")).alias(
                "lang_predicted"
            ),
        )
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "doc_length_log2_histogram",
    """
    WITH n AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT source,
           CAST(length(bin(n_words)) - 1 AS BIGINT) AS log2_bucket,
           count(*) AS n_docs,
           CAST(min(n_words) AS BIGINT) AS min_words,
           CAST(max(n_words) AS BIGINT) AS max_words
    FROM n
    GROUP BY source, length(bin(n_words)) - 1
    """,
)
def doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram per source — the
    long-tail diagnostic every corpus report carries (truncation
    thresholds, packing efficiency, outlier hunting).  The bucket is
    floor(log2(n)) computed EXACTLY as length(bin(n)) - 1 — binary
    digit count, pure integer arithmetic, no libm log whose rounding
    could flip a boundary value (1024 is always bucket 10).  One
    map-side-combinable aggregate; the bucketing runs in the scan
    stage."""
    d = load(spark, sf_dir, "documents")
    n = d.select(
        "source", F.expr("size(split(text, ' '))").alias("n_words")
    )
    return (
        n.withColumn(
            "log2_bucket",
            (F.length(F.expr("bin(n_words)")) - 1).cast("long"),
        )
        .groupBy("source", "log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_words").cast("long").alias("min_words"),
            F.max("n_words").cast("long").alias("max_words"),
        )
    )


@query(
    "dsir_importance_resample",
    """
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    words AS (
      SELECT doc_id, lang, unnest(ws) AS w FROM toks
    ),
    ct AS (
      SELECT w, count(*) AS ct FROM words WHERE lang = 'en' GROUP BY w
    ),
    cr AS (
      SELECT w, count(*) AS cr FROM words WHERE lang <> 'en' GROUP BY w
    ),
    ratio AS (
      SELECT cr.w,
             CAST(floor((10000 * (COALESCE(ct.ct, 0) + 1))
                        / (cr.cr + 1)) AS BIGINT) AS r
      FROM cr LEFT JOIN ct ON ct.w = cr.w
    ),
    doc_scores AS (
      SELECT wd.doc_id,
             count(*) AS n_toks,
             CAST(floor(CAST(sum(ratio.r) AS DOUBLE) / count(*)) AS BIGINT)
               AS dsir_score
      FROM words wd JOIN ratio ON ratio.w = wd.w
      WHERE wd.lang <> 'en'
      GROUP BY wd.doc_id
    )
    SELECT d.doc_id, t.lang, t.source,
           CAST(d.n_toks AS BIGINT) AS n_toks, d.dsir_score
    FROM doc_scores d JOIN toks t ON t.doc_id = d.doc_id
    ORDER BY d.dsir_score DESC, d.doc_id LIMIT 100
    """,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) re-based on exact integers: score every raw-pool document
    (lang != 'en') by its unigram importance under the TARGET
    distribution (the English slice), then take the top-100 — the
    deterministic analog of sampling proportionally to the importance
    weight.  Per word, importance = floor(1e4*(ct+1)/(cr+1)) — the
    add-one target/raw likelihood ratio on a fixed integer grid; per
    doc, the floor-mean of its words' ratios.  All inputs are exact
    integers and every division is a correctly-rounded IEEE op whose
    distance from the nearest integer (>= 1/n) dwarfs the ulp, so the
    scores are bit-identical cross-engine (the q7 discipline applied
    to likelihood ratios).

    Paper mapping: DSIR hashes n-grams into 2^k buckets so the
    importance model fits one machine's memory.  Here the model IS a
    DataFrame keyed by word — vocabulary-sized, joined not broadcast —
    so the hashing trick becomes an optional constant-memory
    refinement rather than a requirement; the estimator is otherwise
    the paper's (add-one smoothed unigram ratio, resample top-k).

    100 TB shape: two corpus-scale word aggregations (one shuffle
    each, map-side combinable), a vocab-sized ratio join on the word
    key (AQE picks broadcast only if it fits), one per-doc score
    shuffle, TakeOrderedAndProject for the cut — no driver-side
    state."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ws"),
    )
    words = toks.select("doc_id", "lang", F.explode("ws").alias("w"))
    # target and raw counts fold out of ONE conditional aggregate and
    # the O(vocab) table is materialized (r9: separate en/non-en
    # branches each re-tokenized the corpus); keys restricted to
    # raw-side words exactly as the old cr-left-join did
    ratio = (
        words.groupBy("w")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias(
                "ct"
            ),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias(
                "cr"
            ),
        )
        .filter(F.col("cr") > 0)
        .select(
            "w",
            F.floor((10000 * (F.col("ct") + 1)) / (F.col("cr") + 1))
            .cast("long")
            .alias("r"),
        )
        .localCheckpoint()
    )
    doc_scores = (
        words.filter(F.col("lang") != "en")
        .join(ratio, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.floor(F.sum("r").cast("double") / F.count("*"))
            .cast("long")
            .alias("dsir_score"),
        )
    )
    return (
        doc_scores.join(toks.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("n_toks").cast("long").alias("n_toks"),
            "dsir_score",
        )
        .orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(100)
    )


@query(
    "group_leakage_safe_split",
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN (user_id * 2654435761) % 1000 < 800 THEN 'train'
                  WHEN (user_id * 2654435761) % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT u.split,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           TRUE AS no_leakage
    FROM events e JOIN u ON u.user_id = e.user_id
    GROUP BY u.split
    """,
)
def group_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split — the leakage guard
    ``train_val_test_split`` (row-hash) cannot give: the split key is
    the multiplicative hash of the GROUP (user_id), so every event of
    a user lands in the same split and no user's behavior leaks from
    train into eval — sklearn's GroupShuffleSplit as a deterministic
    DataFrame program.  Same Knuth hash, same 80/10/10 bands, same
    stability contract (new users never reassign existing ones).

    ``no_leakage`` is PROVEN inside the query, not assumed: the max
    over users of their distinct-split count must be 1, checked as a
    1-row aggregate and broadcast onto every output row — a split
    function accidentally keyed on a row attribute breaks the hash.

    100 TB shape: the split is scan-stage arithmetic on the group
    key — no distinct-users table needed at assignment time (the hash
    IS the assignment); the audit aggregate is one extra
    map-side-combinable pass."""
    ev = load(spark, sf_dir, "events")
    split = (
        F.when((F.col("user_id") * 2654435761) % 1000 < 800, "train")
        .when((F.col("user_id") * 2654435761) % 1000 < 900, "val")
        .otherwise("test")
    )
    # reduce to per-(user, split) event counts ONCE and checkpoint —
    # the audit and the per-split rollup both derive from it with
    # identical values (n_events = sum of partial counts, n_users and
    # the distinct-split audit count the reduced keys) — before, each
    # fork re-scanned events (2 scans, r9 audit; now 1)
    per_user = (
        ev.select("user_id", split.alias("split"))
        .groupBy("user_id", "split")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    audit = (
        per_user.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .agg((F.max("k") == 1).alias("no_leakage"))
    )
    return (
        per_user.groupBy("split")
        .agg(
            F.sum("n").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .crossJoin(F.broadcast(audit))
    )


@query(
    "pmi_collocations_topk",
    """
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    uni AS (SELECT unnest(ws) AS w FROM toks),
    cu AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM uni),
    big AS (
      SELECT s['w1'] AS w1, s['w2'] AS w2
      FROM (
        SELECT unnest(list_transform(
                 generate_series(1, len(ws) - 1),
                 i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS s
        FROM toks WHERE len(ws) > 1
      )
    ),
    nb AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM big),
    cb AS (
      SELECT w1, w2, count(*) AS cxy FROM big
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT cb.w1, cb.w2, CAST(cb.cxy AS BIGINT) AS n_pair,
           CAST((CAST(10000 AS HUGEINT) * cb.cxy * nu.n * nu.n)
                // (nb.n * c1.c * c2.c) AS BIGINT) AS lift_x1e4
    FROM cb
    JOIN cu c1 ON c1.w = cb.w1
    JOIN cu c2 ON c2.w = cb.w2
    CROSS JOIN nu CROSS JOIN nb
    ORDER BY lift_x1e4 DESC, w1, w2 LIMIT 50
    """,
)
def pmi_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information over the
    corpus — the classic Church-Hanks association measure, kept EXACT
    by reporting the PMI's argument (the lift) on the 1e-4 integer
    grid instead of its log: lift = P(xy) / (P(x)P(y)) =
    c_xy*N_uni^2 / (N_bi*c_x*c_y), computed in decimal(38,0)/HUGEINT
    (the products pass 2^63) with truncating integral division — log
    is monotone, so the top-k and ordering are PMI's own.  Support
    pruning (c_xy >= 5) kills the hapax pairs that dominate raw PMI.

    100 TB shape: bigram formation is shuffle-free scan-stage
    arithmetic (slice+zip on the token array — pairs never travel as
    a self-join); then one (w1,w2) count shuffle with map-side
    combine, support-pruned BEFORE the two vocabulary joins; the two
    corpus totals are 1-row frames (broadcast by construction); final
    top-50 compiles to TakeOrderedAndProject, never a global sort.
    Reference scope: flo has no text surface — north-star extension
    (LLM-pipeline family, SURVEY §2 Part B)."""
    toks = load(spark, sf_dir, "documents").select(
        F.filter(F.split("text", " "), lambda x: x != "").alias("ws")
    )
    uni = toks.select(F.explode("ws").alias("w"))
    # vocabulary counts materialized once (r9): both PMI margins join
    # against them and the unigram total is their own sum — the
    # un-checkpointed plan re-tokenized the corpus 5x
    cu = uni.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint()
    nu = cu.agg(F.sum("c").cast("decimal(38,0)").alias("nu"))
    big = (
        toks.filter(F.size("ws") > 1)
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ws, 1, size(ws) - 1)").alias("w1"),
                    F.expr("slice(ws, 2, size(ws) - 1)").alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # bigram census materialized once (r9 session 2): nb and cb both
    # forked `big`, re-tokenizing the corpus per branch; the bigram
    # total is the census's own sum, so the unpruned (w1,w2) counts
    # are checkpointed (distinct-bigram-sized, not corpus-sized) and
    # both branches derive from them — one bigram tokenize pass
    cb0 = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("cxy"))
        .localCheckpoint()
    )
    nb = cb0.agg(F.sum("cxy").cast("decimal(38,0)").alias("nb"))
    cb = cb0.filter(F.col("cxy") >= 5)
    c1 = cu.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = cu.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    joined = (
        cb.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    out = joined.select(
        "w1",
        "w2",
        F.col("cxy").cast("long").alias("n_pair"),
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0)) * CAST(cxy AS DECIMAL(38,0))"
            " * nu * nu) DIV (nb * CAST(c1 AS DECIMAL(38,0))"
            " * CAST(c2 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("lift_x1e4"),
    )
    return out.orderBy(
        F.col("lift_x1e4").desc(), "w1", "w2"
    ).limit(50)


@query(
    "vocab_index_encode",
    """
    WITH vocab AS (
      SELECT lang,
             CAST(row_number() OVER (ORDER BY count(*) DESC, lang) - 1
                  AS BIGINT) AS lang_index
      FROM documents GROUP BY lang
    )
    SELECT d.source, v.lang_index, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN vocab v ON v.lang = d.lang
    GROUP BY d.source, v.lang_index
    """,
)
def vocab_index_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical vocabulary indexing — MLlib StringIndexer's
    ``frequencyDesc`` contract as a pure DataFrame program: categories
    rank by (count DESC, value ASC) into dense 0-based ids, and the
    corpus re-encodes by joining the mapping back.  The deterministic
    tie-break is the point — hash-based id assignment would be
    partition-order-dependent and untestable cross-engine.

    100 TB shape: the vocabulary is one map-side-combinable count +
    one window over a |vocab|-sized frame (vocab cardinality, not
    corpus); the encode join auto-broadcasts the mapping.  Fit once,
    apply everywhere — the mapping frame IS the model artifact
    (persist it; re-fitting per query would re-shuffle the corpus)."""
    d = load(spark, sf_dir, "documents")
    # reduce to (source, lang) partial counts ONCE and checkpoint;
    # the vocabulary fit re-aggregates the partials (identical counts)
    # and the encode re-keys them — before, fit and apply each
    # re-scanned the corpus (2 scans, r9 audit; now 1)
    sl = d.groupBy("source", "lang").agg(
        F.count("*").alias("n")
    ).localCheckpoint()
    w = Window.orderBy(F.col("cnt").desc(), F.col("lang").asc())
    vocab = (
        sl.groupBy("lang")
        .agg(F.sum("n").alias("cnt"))
        .select(
            "lang", (F.row_number().over(w) - 1).cast("long").alias("lang_index")
        )
    )
    return (
        sl.join(F.broadcast(vocab), "lang")
        .groupBy("source", "lang_index")
        .agg(F.sum("n").alias("n_docs"))
    )


@query(
    "k_anonymity_audit",
    """
    WITH q AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             c_custkey
      FROM customer
    ),
    g AS (
      SELECT nation, segment, bal_bucket, count(*) AS grp_size,
             count(DISTINCT c_custkey % 97) AS sens_diversity
      FROM q GROUP BY 1, 2, 3
    )
    SELECT CAST(nation AS INT) AS nation, segment, bal_bucket,
           CAST(grp_size AS BIGINT) AS grp_size,
           grp_size >= 5 AS k5_anonymous,
           CAST(sens_diversity AS BIGINT) AS sens_diversity,
           sens_diversity >= 3 AS l3_diverse
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit — the privacy gate a dataset
    passes BEFORE release: group by the quasi-identifier tuple
    (nation, market segment, coarse balance bucket), flag equivalence
    classes smaller than k=5 (re-identifiable) and classes whose
    sensitive attribute (here a derived 97-class proxy) shows fewer
    than l=3 distinct values (attribute-disclosable even at k).
    Both checks are exact integer aggregates — Sweeney's k-anonymity
    and Machanavajjhala's l-diversity as one pass.  The generalization
    lattice step (coarsen buckets until every class passes) is the
    caller's loop over this audit; each step is the same single
    aggregate.

    100 TB shape: ONE map-side-combinable aggregate over the
    quasi-identifier key (count + distinct partials in the same
    shuffle); output is |equivalence classes|, not |rows|.  Pairs
    with gdpr_forget_compaction as the governance family."""
    q = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
        "c_custkey",
    )
    g = q.groupBy("nation", "segment", "bal_bucket").agg(
        F.count("*").alias("grp_size"),
        F.countDistinct(F.col("c_custkey") % 97).alias("sens_diversity"),
    )
    return g.select(
        "nation",
        "segment",
        "bal_bucket",
        F.col("grp_size").cast("long").alias("grp_size"),
        (F.col("grp_size") >= 5).alias("k5_anonymous"),
        F.col("sens_diversity").cast("long").alias("sens_diversity"),
        (F.col("sens_diversity") >= 3).alias("l3_diverse"),
    )


# Discount weights for DCG@10: floor(1e6 / log2(rank+1)) for rank 1..10.
# Precomputed to EXACT integer literals embedded in both engines' query
# text, so the transcendental log never runs inside either engine and
# the whole metric stays on an integer grid.
_DCG_W = [1000000, 630929, 500000, 430676, 386852, 356207,
          333333, 315464, 301029, 289064]


_DCG_W_SQL = ", ".join(str(w) for w in _DCG_W)


@query(
    "ndcg_search_eval",
    f"""
    WITH terms AS (
      SELECT unnest(['join', 'scan', 'merge']) AS term
    ),
    tf AS (
      SELECT t.term, d.doc_id,
             len(list_filter(string_split(d.text, ' '), x -> x = t.term))
               AS tf
      FROM documents d JOIN terms t ON TRUE
    ),
    ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (
               PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rn
      FROM tf
    ),
    top AS (
      SELECT term, doc_id, rn,
             CAST((1 << (doc_id % 4)) - 1 AS BIGINT) AS gain
      FROM ranked WHERE rn <= 10
    ),
    ideal AS (
      SELECT term, gain, rn,
             row_number() OVER (
               PARTITION BY term ORDER BY gain DESC, doc_id ASC) AS irn
      FROM top
    ),
    agg AS (
      SELECT term,
             sum(gain * ([{_DCG_W_SQL}])[rn]) AS dcg_x1e6,
             sum(gain * ([{_DCG_W_SQL}])[irn]) AS idcg_x1e6
      FROM ideal GROUP BY term
    )
    SELECT term,
           CAST(dcg_x1e6 AS BIGINT) AS dcg_x1e6,
           CAST(idcg_x1e6 AS BIGINT) AS idcg_x1e6,
           CAST(CASE WHEN idcg_x1e6 = 0 THEN NULL
                     ELSE (dcg_x1e6 * 10000) // idcg_x1e6 END AS BIGINT)
             AS ndcg_x1e4
    FROM agg
    """,
)
def ndcg_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 ranking evaluation on an exact integer grid: rank
    documents per query term by exact term frequency (space-token
    match, doc_id tie-break), grade each hit with a synthetic
    deterministic relevance label rel = doc_id % 4, gain = 2^rel - 1,
    and score DCG with the 1e6-scaled 1/log2(rank+1) discount table
    precomputed OUTSIDE both engines (the one transcendental reduced
    to ten shared integer literals).  IDCG re-ranks the same
    retrieved set by gain (the retrieved-set nDCG variant — stated
    contract), and nDCG is the toward-zero-truncated 1e4-scaled
    quotient — bit-identical across engines where float DCG drifts.

    100 TB shape: term frequencies are one scan-stage lambda over the
    token array (3x literal-term fanout, no join against a term
    table); per-term top-10 is a bounded window (k rows per term
    survive); the two rank passes run on the 30-row retrieved frame.
    Completes the search family (BM25 retrieval, TF-IDF pairs) with
    the evaluation metric that grades them; pairs with
    auc_quality_classifier as the eval-metric family.  Reference
    scope: flo has no analytics surface — north-star extension
    (SURVEY §2 Part B)."""
    d = load(spark, sf_dir, "documents")
    tf = d.select(
        F.explode(F.array(F.lit("join"), F.lit("scan"), F.lit("merge"))).alias(
            "term"
        ),
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "term",
        "doc_id",
        F.expr("size(filter(ws, x -> x = term))").cast("long").alias("tf"),
    )
    wr = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    top = (
        tf.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 10)
        .withColumn(
            "gain",
            F.expr("shiftleft(1, cast(doc_id % 4 as int)) - 1").cast("long"),
        )
    )
    wi = Window.partitionBy("term").orderBy(
        F.col("gain").desc(), F.col("doc_id").asc()
    )
    warr = F.array(*[F.lit(w) for w in _DCG_W])
    ideal = top.withColumn("irn", F.row_number().over(wi))
    agg = ideal.groupBy("term").agg(
        F.sum(F.col("gain") * F.element_at(warr, F.col("rn"))).alias(
            "dcg_x1e6"
        ),
        F.sum(F.col("gain") * F.element_at(warr, F.col("irn"))).alias(
            "idcg_x1e6"
        ),
    )
    return agg.select(
        "term",
        F.col("dcg_x1e6").cast("long").alias("dcg_x1e6"),
        F.col("idcg_x1e6").cast("long").alias("idcg_x1e6"),
        F.when(F.col("idcg_x1e6") == 0, F.lit(None))
        .otherwise(F.expr("(dcg_x1e6 * 10000) div idcg_x1e6"))
        .cast("long")
        .alias("ndcg_x1e4"),
    )


@query(
    "dp_randomized_response",
    """
    WITH priv AS (
      SELECT c_nationkey,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS b,
             (c_custkey * 2654435761) % 1000 < 750 AS keep,
             (c_custkey * 2246822519) % 2 AS coin
      FROM customer
    ),
    rep AS (
      SELECT c_nationkey, b,
             CASE WHEN keep THEN b ELSE coin END AS reported
      FROM priv
    ),
    g AS (
      SELECT c_nationkey AS nation,
             count(*) AS n,
             sum(reported) AS reported_yes,
             sum(b) AS true_yes
      FROM rep GROUP BY 1
    )
    SELECT CAST(nation AS INT) AS nation,
           CAST(n AS BIGINT) AS n,
           CAST(reported_yes AS BIGINT) AS reported_yes,
           CAST(true_yes AS BIGINT) AS true_yes,
           CAST(((8 * reported_yes - n) * 10000) // 6 AS BIGINT)
             AS est_yes_x1e4
    FROM g
    """,
)
def dp_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response — the local-DP mechanism shape: each
    row reports its sensitive bit (segment = BUILDING) truthfully with
    p = 3/4 and a fair coin otherwise, and the per-nation true count
    is recovered by the unbiased estimator (Y - n/8)/(3/4), carried
    as the exact integer (8Y - n)*1e4 div 6.  The coins here are
    DETERMINISTIC multiplicative hashes of the key (the
    train_val_test_split discipline) so the whole mechanism is
    reproducible and hash-checkable — real deployments draw true
    randomness per report; the mechanism arithmetic, estimator
    included, is what this entry pins.  epsilon = ln(((3/4)+(1/8)) /
    (1/8)) = ln 7 per report under the standard RR analysis.

    100 TB shape: privatization is pure scan-stage arithmetic (no
    shuffle), aggregation is one map-side-combinable count/sum per
    nation; key*multiplier stays in int64 for keys < 2^33.  Completes
    the privacy/governance family (k-anonymity, PII redaction, GDPR
    forget) with the statistical-disclosure mechanism.  Reference
    scope: flo has no privacy surface — north-star extension (SURVEY
    §2 Part B)."""
    c = load(spark, sf_dir, "customer")
    priv = c.select(
        "c_nationkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("b"),
        ((F.col("c_custkey") * 2654435761) % 1000 < 750).alias("keep"),
        ((F.col("c_custkey") * 2246822519) % 2).alias("coin"),
    )
    rep = priv.select(
        "c_nationkey",
        "b",
        F.when(F.col("keep"), F.col("b")).otherwise(F.col("coin")).alias(
            "reported"
        ),
    )
    g = rep.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count("*").alias("n"),
        F.sum("reported").alias("reported_yes"),
        F.sum("b").alias("true_yes"),
    )
    return g.select(
        F.col("nation").cast("int").alias("nation"),
        F.col("n").cast("long").alias("n"),
        F.col("reported_yes").cast("long").alias("reported_yes"),
        F.col("true_yes").cast("long").alias("true_yes"),
        F.expr("((8 * reported_yes - n) * 10000) div 6")
        .cast("long")
        .alias("est_yes_x1e4"),
    )


@query(
    "inverted_index_build",
    """
    WITH tok AS (
      SELECT d.doc_id, t.term
      FROM documents d,
           unnest(list_filter(string_split(d.text, ' '), x -> x <> ''))
             AS t(term)
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (
               PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rn
      FROM tf
    ),
    stats AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY term
    ),
    post AS (
      SELECT term,
             array_to_string(list(doc_id ORDER BY doc_id), ',')
               AS top_postings
      FROM ranked WHERE rn <= 5 GROUP BY term
    )
    SELECT s.term, s.df, s.total_tf, p.top_postings
    FROM stats s JOIN post p USING (term)
    """,
)
def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the batch artifact BM25 retrieval
    presupposes, built as a relation: per term, document frequency,
    total term frequency, and a CAPPED posting list (the top-5 docs by
    tf, id-sorted and joined with ``,`` so the column is one
    order-canonical string on both engines).  The cap is the impact-ordered / WAND-style index-time
    pruning rule: high-impact postings stay hot, the full list is the
    same relation uncapped.

    100 TB shape: tokenize in the scan stage (one explode, no joins),
    ONE (term, doc) hash aggregation, then per-term stats and the
    bounded top-k window — all shuffles keyed on the term; posting
    arrays are k-bounded so no group blows task memory (the uncapped
    variant would stream postings as rows, never as one array).
    Pairs with bm25_search_topk (query side) and vocab_index_encode
    (the dictionary side).  Reference scope: flo has no text surface —
    north-star extension (SURVEY §2 Part B)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(text, ' '), x -> x <> '')")
        ).alias("term"),
    )
    # (term, doc) tf table, checkpointed: the per-term stats and the
    # k-bounded posting lists both derive from it — un-cut lineage
    # re-exploded and re-scanned the corpus per fork (2 scans,
    # r9 audit; now 1)
    tf = tok.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf")
    ).localCheckpoint()
    stats = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    wr = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    post = (
        tf.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .groupBy("term")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("top_postings")
        )
    )
    return stats.join(post, "term").select(
        "term", "df", "total_tf", "top_postings"
    )


@query(
    "context_window_pairs",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id % 50 = 0
    ),
    pos AS (
      SELECT doc_id, ws, unnest(generate_series(5, 12)) AS pos
      FROM d
    )
    SELECT doc_id, CAST(pos AS INT) AS pos,
           array_to_string(list_slice(ws, pos - 4, pos - 1), ' ')
             AS context,
           ws[pos] AS target
    FROM pos WHERE pos <= len(ws)
    """,
)
def context_window_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-token training-pair construction — the map from documents
    to (context, target) supervision the LM data pipeline ends with:
    for each sampled document (1-in-50 by key, the deterministic
    split discipline) and each position 5..12, the 4-token context
    window and the token it predicts.  Pure array arithmetic on the
    token list; the position range bounds output fanout explicitly
    (production uses stride = context length for disjoint windows —
    same expression, different sequence bounds).

    100 TB shape: entirely scan-stage (split + bounded explode +
    slice — NO shuffle, no join); output rows = |docs| x windows,
    written shard-parallel.  The sequence_packing entry handles the
    batch-assembly half; this is the supervision-extraction half.
    Reference scope: flo has no text surface — north-star extension
    (SURVEY §2 Part B)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    pos = d.select(
        "doc_id", "ws", F.explode(F.expr("sequence(5, 12)")).alias("pos")
    ).filter(F.col("pos") <= F.size("ws"))
    return pos.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.array_join(
            F.expr("slice(ws, pos - 4, 4)"), " "
        ).alias("context"),
        F.element_at("ws", F.col("pos")).alias("target"),
    )


@query(
    "source_overlap_matrix",
    r"""
    WITH toks AS (
      SELECT source, doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
      FROM toks, unnest(range(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 3
    ),
    sizes AS (
      SELECT source, count(*) AS n_sh FROM sh GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(sa.n_sh AS BIGINT) AS shingles_a,
           CAST(sb.n_sh AS BIGINT) AS shingles_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.n_sh + sb.n_sh - i.n_inter AS BIGINT) AS n_union,
           CAST(i.n_inter * 10000
                // (sa.n_sh + sb.n_sh - i.n_inter) AS BIGINT)
               AS jaccard_x1e4
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET-level overlap accounting — the contamination/provenance
    matrix run before mixing corpora: for every ordered pair of
    sources, the exact Jaccard overlap of their distinct 3-word
    shingle sets (set sizes, intersection, union, 1e-4-grid
    similarity).  The per-DOC near-dup entries ask "is this document a
    copy"; this asks "how much does corpus A repeat corpus B" — the
    number that decides whether two feeds are the same crawl.

    100 TB shape: shingles collapse to (source, shingle-hash) DISTINCT
    rows in the scan+one-shuffle stage — per-source shingle VOCABULARY
    size, not corpus size; the intersection self-join keys on the
    8-byte xxhash64 shingle hash (Spark side; the oracle joins the
    shingle strings themselves — the standard hash-vs-string
    equivalence of the n-gram entries, collision odds ~2^-64); output
    is |sources|^2 rows.  At pair-heavy scale swap exact intersection
    for theta-sketch A-and-B (theta_sketch_audience_overlap) at a
    stated error.  Reference scope: flo has no corpus surface —
    north-star extension (SURVEY §2 Part B dedup/mixing)."""
    toks = load(spark, sf_dir, "documents").select(
        "source",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias(
            "ws"
        ),
    )
    sh = (
        toks.filter(F.size("ws") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
                )
            ).alias("shingle"),
        )
        .select("source", F.xxhash64("shingle").alias("sh"))
        .distinct()
        .persist()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.selectExpr("source AS source_a", "n_sh AS na")
    sb = sizes.selectExpr("source AS source_b", "n_sh AS nb")
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .selectExpr(
            "source_a",
            "source_b",
            "CAST(na AS BIGINT) AS shingles_a",
            "CAST(nb AS BIGINT) AS shingles_b",
            "CAST(n_inter AS BIGINT) AS n_inter",
            "CAST(na + nb - n_inter AS BIGINT) AS n_union",
            "CAST(n_inter * 10000 div (na + nb - n_inter) AS BIGINT)"
            " AS jaccard_x1e4",
        )
    )


@query(
    "zipf_rank_frequency_audit",
    r"""
    WITH w AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
             AS word
      FROM documents
    ),
    f AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
    r AS (
      SELECT word, freq,
             row_number() OVER (ORDER BY freq DESC, word) AS rnk
      FROM f
    ),
    b AS (
      SELECT length(bin(CAST(rnk AS BIGINT))) - 1 AS bucket, freq
      FROM r
    )
    SELECT CAST(bucket AS INT) AS log2_rank_bucket,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS freq_mass,
           CAST(max(freq) AS BIGINT) AS freq_max,
           CAST(min(freq) AS BIGINT) AS freq_min
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def zipf_rank_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus vocabulary (r8) — the
    rank-frequency diagnostic every tokenizer/quality pipeline runs
    before choosing vocab size and frequency cutoffs: words rank by
    (frequency DESC, word ASC) — the vocab_index_encode deterministic
    tie-break — and aggregate into EXACT log2 rank octaves computed as
    binary-digit-count(rank) - 1 (a string-length operation, so the
    transcendental log never runs and octave boundaries are
    bit-exact; the floor-log2 discipline doc_length_log2_histogram
    uses for lengths, applied to ranks).  Under Zipf s=1 each octave
    carries roughly constant total mass — a reader checks freq_mass
    flatness across buckets and spots the head/tail deviations that
    drive stopword and rare-word cutoff choices.

    100 TB shape: one explode+count shuffles the corpus to a
    vocab-sized frame; the rank window runs on the VOCAB (bounded by
    distinct words, not corpus rows; at cluster scale the single-
    partition rank swaps for a two-pass count-bucketed rank, the
    documented rank-entry caveat); the octave aggregate is
    map-side-combinable.  Reference scope: flo has no text surface —
    north-star extension (SURVEY §2 Part B LLM pipeline)."""
    w = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
    )
    f = w.groupBy("word").agg(F.count("*").alias("freq"))
    r = f.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("word")))
        .alias("rnk"),
    )
    b = r.select(
        (F.length(F.conv(F.col("rnk"), 10, 2)) - 1).alias("bucket"),
        "freq",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("freq_mass"),
            F.max("freq").cast("long").alias("freq_max"),
            F.min("freq").cast("long").alias("freq_min"),
        )
        .select(
            F.col("bucket").cast("int").alias("log2_rank_bucket"),
            "n_words",
            "freq_mass",
            "freq_max",
            "freq_min",
        )
        .orderBy("log2_rank_bucket")
    )


@query(
    "rrf_hybrid_retrieval",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    dls AS (SELECT doc_id, len(ws) AS dl FROM toks),
    stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dls
    ),
    tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
      WHERE w IN ('hash', 'merge', 'window', 'dup')
      GROUP BY doc_id, w
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl
                               / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
               AS part_score
      FROM tf
      JOIN df USING (term)
      JOIN dls d ON d.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank
      FROM (
        SELECT doc_id,
               CAST(floor(sum(part_score) * 1e4 + 0.5) AS BIGINT) AS s
        FROM scored GROUP BY doc_id
      )
    ),
    qv AS (
      SELECT embedding FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    dense0 AS (
      SELECT e.vec_id AS doc_id,
             CAST(floor(list_cosine_similarity(
                    CAST(e.embedding AS DOUBLE[]),
                    CAST(q.embedding AS DOUBLE[])) * 1e4 + 0.5)
                  AS BIGINT) AS cs
      FROM embeddings e CROSS JOIN qv q
      WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
    ),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cs DESC, doc_id) AS dense_rank
      FROM dense0
    ),
    fused AS (
      SELECT doc_id,
             l.lex_rank,
             d.dense_rank,
             coalesce(1000000000 // (60 + l.lex_rank), 0)
           + coalesce(1000000000 // (60 + d.dense_rank), 0) AS rrf_nanos
      FROM (SELECT * FROM lex WHERE lex_rank <= 50) l
      FULL OUTER JOIN (SELECT * FROM dense WHERE dense_rank <= 50) d
        USING (doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           CAST(rrf_nanos AS BIGINT) AS rrf_nanos
    FROM fused
    ORDER BY rrf_nanos DESC, doc_id LIMIT 20
    """,
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via RECIPROCAL RANK FUSION (Cormack et al.,
    SIGIR'09 — the standard score-free fusion behind every
    lexical+dense RAG stack): retriever 1 is Okapi BM25 over the
    query {hash, merge, window, dup} (same scorer as
    bm25_search_topk); retriever 2 is dense cosine against the
    lowest-vec_id embedding as the query vector (vec_id aliases
    doc_id — the corpus-alignment contract the federated entries
    use).  Each retriever contributes its top-50; fused score =
    SUM_r 1/(60 + rank_r), kept EXACT as integer nanos
    (1e9 div (60+rank), so both engines do pure integer arithmetic
    on identical rank operands); top-20 by (rrf, doc_id).

    Rank determinism: both rankings order by the 4dp-SCALED-INTEGER
    score with doc_id tie-break, so a last-bit float divergence
    between engines cannot swap ranks — the ranks that feed the
    fusion are integer-decidable on both sides.  Docs found by only
    one retriever fuse with the other term at 0 (the full-outer
    semantics of RRF).

    100 TB shape: the lexical leg keeps bm25_search_topk's plan
    (term-filter before any shuffle, broadcast df/stats); the dense
    leg is one broadcast 1-row query vector against a scan-stage
    JVM-HOF cosine (no Python, no shuffle before the top-50 cut);
    fusion joins two <=50-row sides and the final top-20 is
    TakeOrderedAndProject.  At real scale the dense leg swaps to the
    IVF/LSH index entries; RRF itself is rank-only, so it composes
    with ANY retriever pair unchanged.  Reference scope: retrieval
    fusion is a north-star LLM-pipeline extension (SURVEY §2 LLM
    rows; no flo analog)."""
    terms = ["hash", "merge", "window", "dup"]
    k1, b = 1.2, 0.75
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # ONE corpus scan (was 3, r9 audit §2: the tokenized frame forked
    # into the length/stats path and the tf path, and tf itself forked
    # again downstream): per doc, the length and the query-term
    # matches reduce scan-stage to a narrow frame — |matched| bounded
    # by occurrences of the 4 query terms — checkpointed once; the
    # corpus stats and the tf table both derive from it, and tf
    # (|q|-bounded rows per doc) is checkpointed for its own forks.
    pre = d.select(
        "doc_id",
        F.size(words).alias("dl"),
        F.filter(words, lambda x: x.isin(*terms)).alias("matched"),
    ).localCheckpoint()
    stats = pre.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        pre.select("doc_id", "dl", F.explode("matched").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    joined = tf.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * ((1 - b) + b * F.col("dl") / avgdl))
    )
    lex = (
        joined.groupBy("doc_id")
        .agg(
            F.floor(F.sum(part) * 1e4 + F.lit(0.5))
            .cast("long")
            .alias("s")
        )
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.col("s").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("lex_rank") <= 50)
        .select("doc_id", "lex_rank")
    )
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

    dot = F.aggregate(
        F.zip_with(
            dbl(F.col("embedding")), dbl(F.col("q_emb")), lambda a, x: a * x
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_c = F.aggregate(
        dbl(F.col("embedding")), F.lit(0.0), lambda acc, x: acc + x * x
    )
    n_q = F.aggregate(
        dbl(F.col("q_emb")), F.lit(0.0), lambda acc, x: acc + x * x
    )
    dense = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.floor(
                dot / (F.sqrt(n_c) * F.sqrt(n_q)) * 1e4 + F.lit(0.5)
            )
            .cast("long")
            .alias("cs"),
        )
        .withColumn(
            "dense_rank",
            F.row_number().over(
                Window.orderBy(F.col("cs").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("dense_rank") <= 50)
        .select("doc_id", "dense_rank")
    )
    return (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("dense_rank").cast("long").alias("dense_rank"),
            F.expr(
                "coalesce(1000000000 div (60 + lex_rank), 0)"
                " + coalesce(1000000000 div (60 + dense_rank), 0)"
            )
            .cast("long")
            .alias("rrf_nanos"),
        )
        .orderBy(F.col("rrf_nanos").desc(), "doc_id")
        .limit(20)
    )


@query(
    "bleu2_pairwise_eval",
    r"""
    WITH w AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, lead(doc_id) OVER (
               PARTITION BY lang, source ORDER BY doc_id) AS ref_id
      FROM w
    ),
    pr AS (SELECT doc_id, ref_id FROM pairs WHERE ref_id IS NOT NULL),
    uni AS (
      SELECT doc_id, u AS tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest(ws) AS u FROM w)
      GROUP BY doc_id, u
    ),
    bi AS (
      SELECT doc_id, u AS tok, count(*) AS cnt
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i + 1])) AS u
        FROM w
      )
      GROUP BY doc_id, u
    ),
    lens AS (SELECT doc_id, len(ws) AS n FROM w),
    m1 AS (
      SELECT p.doc_id, CAST(sum(least(cu.cnt, ru.cnt)) AS BIGINT) AS m
      FROM pr p
      JOIN uni cu ON cu.doc_id = p.doc_id
      JOIN uni ru ON ru.doc_id = p.ref_id AND ru.tok = cu.tok
      GROUP BY p.doc_id
    ),
    m2 AS (
      SELECT p.doc_id, CAST(sum(least(cb.cnt, rb.cnt)) AS BIGINT) AS m
      FROM pr p
      JOIN bi cb ON cb.doc_id = p.doc_id
      JOIN bi rb ON rb.doc_id = p.ref_id AND rb.tok = cb.tok
      GROUP BY p.doc_id
    ),
    scored AS (
      SELECT p.doc_id, p.ref_id,
             CAST(lc.n AS BIGINT) AS c_len,
             CAST(lr.n AS BIGINT) AS r_len,
             coalesce(m1.m, 0) AS m1,
             coalesce(m2.m, 0) AS m2,
             CASE WHEN coalesce(m1.m, 0) = 0 OR coalesce(m2.m, 0) = 0
                  THEN 0.0
                  ELSE (CASE WHEN lc.n > lr.n THEN 1.0
                             ELSE exp(1 - CAST(lr.n AS DOUBLE) / lc.n)
                        END)
                       * exp(0.5 * (ln(CAST(m1.m AS DOUBLE) / lc.n)
                                  + ln(CAST(m2.m AS DOUBLE) / (lc.n - 1))))
             END AS bleu
      FROM pr p
      JOIN lens lc ON lc.doc_id = p.doc_id
      JOIN lens lr ON lr.doc_id = p.ref_id
      LEFT JOIN m1 ON m1.doc_id = p.doc_id
      LEFT JOIN m2 ON m2.doc_id = p.doc_id
      WHERE lc.n >= 2
    )
    SELECT doc_id, ref_id, c_len, r_len, m1, m2,
           CAST(floor(bleu * 1e4 + 0.5) AS BIGINT) AS bleu2_x1e4
    FROM scored
    ORDER BY bleu2_x1e4 DESC, doc_id LIMIT 20
    """,
)
def bleu2_pairwise_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 generation-eval scoring (Papineni et al., ACL'02 — the
    clipped n-gram-precision metric every generation pipeline
    reports), computed corpus-wide between deterministic
    candidate/reference pairs (each document vs the next doc_id in
    its (lang, source) group): clipped unigram and bigram matches
    ``m_n = SUM_g min(cnt_cand(g), cnt_ref(g))``, geometric mean of
    the two precisions, and the brevity penalty ``exp(1 - r/c)`` for
    short candidates; zero bigram overlap floors the score at 0
    (the standard smoothing-free convention).  Top-20 most-similar
    pairs by 4dp-scaled score with doc_id tie-break.

    Every model input (m1, m2, c_len, r_len) is an exact integer —
    surfaced as output columns so the hash pins the clipped-count
    machinery itself, not just the float — and both engines evaluate
    the same ln/exp expression over identical operands before the
    single 4dp rounding (the bm25 determinism pattern).

    100 TB shape: n-gram counts aggregate map-side per doc; the
    clipped join keys on (pair, gram) AFTER both sides are reduced
    to per-doc count tables (never token-stream x token-stream); the
    pairing is one lead() window over (lang, source); top-20 is
    TakeOrderedAndProject.  Eval-suite scale (candidate sets ~1e3
    rows) makes the ref side broadcastable; corpus-vs-corpus as here
    stays a keyed shuffle join.  Reference scope: north-star
    LLM-pipeline extension (SURVEY §2 LLM rows; ROUGE recall is this
    with the roles swapped)."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # the tokenized frame forks NINE ways (pairing window, cand/ref
    # aliases of both n-gram count tables, both length lookups);
    # Catalyst recomputes forked lineage from the raw scan, so without
    # the checkpoints below the corpus was read 9x (r9 audit).  One
    # materialization each for the token frame and the two per-doc
    # count tables = one corpus scan total; the pairing frame is
    # O(docs) and feeds three joins.
    w = d.select(
        "doc_id", "lang", "source", words.alias("ws")
    ).localCheckpoint()
    win = Window.partitionBy("lang", "source").orderBy("doc_id")
    pr = (
        w.select(
            "doc_id", F.lead("doc_id").over(win).alias("ref_id")
        )
        .filter(F.col("ref_id").isNotNull())
        .localCheckpoint()
    )
    uni = (
        w.select("doc_id", F.explode("ws").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    bigrams = F.zip_with(
        F.slice(F.col("ws"), 1, F.size("ws") - 1),
        F.slice(F.col("ws"), 2, F.size("ws") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi = (
        w.filter(F.size("ws") >= 2)
        .select("doc_id", F.explode(bigrams).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    lens = w.select("doc_id", F.size("ws").alias("n"))

    def clipped(counts: DataFrame, name: str) -> DataFrame:
        cu = counts.alias("cu")
        ru = counts.alias("ru")
        return (
            pr.alias("p")
            .join(cu, F.col("cu.doc_id") == F.col("p.doc_id"))
            .join(
                ru,
                (F.col("ru.doc_id") == F.col("p.ref_id"))
                & (F.col("ru.tok") == F.col("cu.tok")),
            )
            .groupBy(F.col("p.doc_id").alias("doc_id"))
            .agg(
                F.sum(F.least(F.col("cu.cnt"), F.col("ru.cnt")))
                .cast("long")
                .alias(name)
            )
        )

    lc, lr = lens.alias("lc"), lens.alias("lr")
    j = (
        pr.join(lc, F.col("lc.doc_id") == pr["doc_id"])
        .join(lr, F.col("lr.doc_id") == pr["ref_id"])
        .select(
            pr["doc_id"],
            "ref_id",
            F.col("lc.n").cast("long").alias("c_len"),
            F.col("lr.n").cast("long").alias("r_len"),
        )
        .filter(F.col("c_len") >= 2)
        .join(clipped(uni, "m1"), "doc_id", "left")
        .join(clipped(bi, "m2"), "doc_id", "left")
        .fillna(0, ["m1", "m2"])
    )
    c, r = F.col("c_len").cast("double"), F.col("r_len").cast("double")
    bp = F.when(F.col("c_len") > F.col("r_len"), F.lit(1.0)).otherwise(
        F.exp(1 - r / c)
    )
    bleu = F.when(
        (F.col("m1") == 0) | (F.col("m2") == 0), F.lit(0.0)
    ).otherwise(
        bp
        * F.exp(
            0.5
            * (
                F.log(F.col("m1").cast("double") / c)
                + F.log(F.col("m2").cast("double") / (c - 1))
            )
        )
    )
    return (
        j.select(
            "doc_id",
            "ref_id",
            "c_len",
            "r_len",
            "m1",
            "m2",
            F.floor(bleu * 1e4 + F.lit(0.5)).cast("long").alias(
                "bleu2_x1e4"
            ),
        )
        .orderBy(F.col("bleu2_x1e4").desc(), "doc_id")
        .limit(20)
    )


@query(
    "bpe_decode_roundtrip",
    f"""
    WITH wf AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    s0 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS toks FROM wf),
    {{step1}},
    {{step2}},
    {{step3}}
    SELECT CAST(len(toks) AS BIGINT) AS n_toks,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(cnt) AS BIGINT) AS n_occurrences,
           CAST(sum(CASE WHEN array_to_string(toks, '') = word
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_exact
    FROM s3 GROUP BY len(toks)
    """.format(
        step1=_bpe_step_sql("s0", 1),
        step2=_bpe_step_sql("s1", 2),
        step3=_bpe_step_sql("s2", 3),
    ),
)
def bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE DECODE — the inverse direction that certifies the trained
    tokenizer is LOSSLESS: for every vocabulary word, concatenating
    its post-merge token sequence must reproduce the original word
    byte-for-byte (``n_roundtrip_exact = n_words`` in every bucket —
    a merge step that drops, duplicates, or reorders a token breaks
    it, which is exactly the failure mode of the positional
    NULL-removal rewrite the merge uses).  Output is the
    tokens-per-word distribution (word count + corpus occurrence
    mass per token-sequence length), i.e. the compression profile
    the 3 learned merges achieve.

    100 TB shape: everything runs on the word-frequency table (one
    corpus scan reduced to distinct words), so decode verification
    costs O(vocabulary), not O(corpus); per-word work is a pure
    JVM-side array fold.  Reference scope: flo codecs must round-trip
    bytes (A17); this is the tokenizer-vocabulary analog (SURVEY §2
    LLM rows, tokenizer family: train / encode / decode now all
    certified)."""
    seqs, _steps = _bpe_train(spark, sf_dir)
    return (
        seqs.select(
            "word",
            "cnt",
            F.size("toks").alias("n_toks"),
            (F.array_join("toks", "") == F.col("word")).alias("ok"),
        )
        .groupBy(F.col("n_toks").cast("long").alias("n_toks"))
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("cnt").cast("long").alias("n_occurrences"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0))
            .cast("long")
            .alias("n_roundtrip_exact"),
        )
    )


@query(
    "l_diversity_audit",
    """
    WITH banded AS (
      SELECT c_mktsegment AS mkt, c_nationkey AS nat,
             (CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT) + 10000000)
             // 20000000 AS sens_band
      FROM customer
    ),
    grp AS (
      SELECT mkt, nat,
             count(*) AS k_size,
             count(DISTINCT sens_band) AS l_div
      FROM banded GROUP BY mkt, nat
    )
    SELECT mkt AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_qi_groups,
           CAST(min(k_size) AS BIGINT) AS min_k,
           CAST(min(l_div) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN k_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_k_violations,
           CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_l_violations,
           CAST(sum(CASE WHEN l_div < 3 THEN k_size ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM grp GROUP BY mkt
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY privacy audit (Machanavajjhala et al. — the
    successor guarantee to k-anonymity this catalog already audits:
    a quasi-identifier group can be k-large yet still leak if every
    member shares the same sensitive value): quasi-identifiers are
    (mktsegment, nationkey), the sensitive attribute is the
    positive-offset integer balance band; per QI group the audit
    measures k (size) and l (distinct sensitive values), then
    reports per segment the minima, the k<5 and l<3 violation
    counts, and the ROWS AT RISK under the l-rule — the number an
    anonymization pipeline must drive to zero before release, and
    the case k-anonymity alone cannot catch.

    100 TB shape: one map-side-combinable groupBy to QI groups
    (count + distinct-band count), one reduction to segments —
    no joins, no windows.  North-star extension (SURVEY §2 LLM
    hygiene rows; completes k_anonymity_audit exactly as l-diversity
    completes k-anonymity in the literature)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("mkt"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "(CAST(floor(c_acctbal * 10000 + 0.5) AS BIGINT) + 10000000)"
            " div 20000000"
        ).alias("sens_band"),
    )
    grp = c.groupBy("mkt", "nat").agg(
        F.count("*").alias("k_size"),
        F.countDistinct("sens_band").alias("l_div"),
    )
    return grp.groupBy(F.col("mkt").alias("c_mktsegment")).agg(
        F.count("*").cast("long").alias("n_qi_groups"),
        F.min("k_size").cast("long").alias("min_k"),
        F.min("l_div").cast("long").alias("min_l"),
        F.sum(F.when(F.col("k_size") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_k_violations"),
        F.sum(F.when(F.col("l_div") < 3, 1).otherwise(0))
        .cast("long")
        .alias("n_l_violations"),
        F.sum(F.when(F.col("l_div") < 3, F.col("k_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


@query(
    "autocomplete_prefix_index",
    """
    WITH words AS (
      SELECT lower(u) AS w FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS u
        FROM documents
      )
      WHERE length(u) >= 2 AND regexp_matches(u, '^[A-Za-z]+$')
    ),
    wf AS (SELECT w, count(*) AS freq FROM words GROUP BY w),
    pref AS (
      SELECT substr(w, 1, p.p) AS prefix, w, freq
      FROM wf, (SELECT unnest([2, 3]) AS p) p
      WHERE length(w) > p.p
    ),
    ranked AS (
      SELECT prefix, w, freq,
             row_number() OVER (
               PARTITION BY prefix ORDER BY freq DESC, w) AS rk
      FROM pref
    )
    SELECT prefix, w AS completion,
           CAST(freq AS BIGINT) AS freq,
           CAST(rk AS BIGINT) AS rk
    FROM ranked
    WHERE rk <= 3 AND prefix IN ('th', 'ha', 'me', 'wi', 'dup', 'mer')
    """,
)
def autocomplete_prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX AUTOCOMPLETE INDEX — the materialized
    (prefix -> top-k completions) table behind search-as-you-type
    (the batch trie every suggest service precomputes): alphabetic
    corpus words lowercase-normalized and frequency-counted, exploded
    into their 2- and 3-char proper prefixes, ranked per prefix by
    (freq desc, word) — integer-decidable — and cut to top-3; the
    entry emits the index rows for six probe prefixes so the hash
    pins both ranking and cut.

    100 TB shape: prefixes explode from the REDUCED word-frequency
    table (O(vocabulary), not O(corpus tokens)); the per-prefix rank
    is a bounded window over same-prefix completions; serving-side
    this table is range-partitioned by prefix — a point lookup.
    North-star extension (SURVEY §2 LLM/text rows; the query-side
    sibling of inverted_index_build and bm25_search_topk)."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("u")
        )
        .filter(
            (F.length("u") >= 2) & F.col("u").rlike("^[A-Za-z]+$")
        )
        .select(F.lower(F.col("u")).alias("w"))
    )
    wf = words.groupBy("w").agg(F.count("*").alias("freq"))
    pref = (
        wf.crossJoin(
            F.broadcast(
                d.sparkSession.createDataFrame([(2,), (3,)], "p int")
            )
        )
        .filter(F.length("w") > F.col("p"))
        .select(
            F.expr("substring(w, 1, p)").alias("prefix"), "w", "freq"
        )
    )
    ranked = pref.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("prefix").orderBy(
                F.col("freq").desc(), F.col("w")
            )
        ),
    )
    return (
        ranked.filter(
            (F.col("rk") <= 3)
            & F.col("prefix").isin("th", "ha", "me", "wi", "dup", "mer")
        )
        .select(
            "prefix",
            F.col("w").alias("completion"),
            F.col("freq").cast("long").alias("freq"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@query(
    "sentence_segmentation_stats",
    r"""
    WITH sents AS (
      SELECT doc_id, lang, trim(s) AS s
      FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(text, '[.!?]+')) AS s
        FROM documents
      )
      WHERE trim(s) <> ''
    ),
    per AS (
      SELECT doc_id, lang,
             count(*) AS n_sents,
             sum(length(s)) AS chars_total,
             sum(len(list_filter(string_split(s, ' '), x -> x <> '')))
               AS words_total
      FROM sents GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sents) AS BIGINT) AS sents_total,
           CAST(sum(words_total) AS BIGINT) AS words_total,
           CAST((sum(words_total) * 10000) // sum(n_sents) AS BIGINT)
             AS words_per_sent_x1e4,
           CAST((sum(chars_total) * 10000) // sum(words_total) AS BIGINT)
             AS chars_per_word_x1e4
    FROM per GROUP BY lang
    """,
)
def sentence_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE SEGMENTATION + readability-style structure stats
    (the words-per-sentence / chars-per-word inputs behind
    Flesch-class readability scoring and the doc-structure features
    quality classifiers consume): documents split on terminal
    punctuation runs ([.!?]+), empty segments dropped, and per
    language the corpus reports sentence counts plus EXACT
    4dp-scaled integer ratios (words per sentence, chars per word —
    floor divisions of exact token/char sums, never float means).
    Regex semantics are pinned to the same pattern class both
    engines implement identically (split on a character-class run).

    100 TB shape: segmentation and token counting are scan-stage
    (explode + length arithmetic, reduced map-side per doc before
    the language rollup); no joins, no windows.  North-star
    extension (SURVEY §2 text rows; feeds quality_classifier_score's
    feature family)."""
    d = load(spark, sf_dir, "documents")
    sents = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s0"),
        )
        .select("doc_id", "lang", F.trim(F.col("s0")).alias("s"))
        .filter(F.col("s") != "")
    )
    per = sents.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_sents"),
        F.sum(F.length("s")).alias("chars_total"),
        F.sum(
            F.size(F.filter(F.split(F.col("s"), " "), lambda x: x != ""))
        ).alias("words_total"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_sents").cast("long").alias("sents_total"),
        F.sum("words_total").cast("long").alias("words_total"),
        F.expr("(sum(words_total) * 10000) div sum(n_sents)")
        .cast("long")
        .alias("words_per_sent_x1e4"),
        F.expr("(sum(chars_total) * 10000) div sum(words_total)")
        .cast("long")
        .alias("chars_per_word_x1e4"),
    )


@query(
    "heaps_law_vocab_growth",
    r"""
    WITH words AS (
      SELECT doc_id, u AS w FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS u
        FROM documents
      )
    ),
    firsts AS (SELECT w, min(doc_id) AS first_doc FROM words GROUP BY w),
    toks AS (SELECT doc_id, count(*) AS n_toks FROM words GROUP BY doc_id),
    nd AS (SELECT max(doc_id) AS max_doc FROM words),
    checkpoints AS (
      SELECT (c.c * (nd.max_doc + 1)) // 10 - 1 AS cutoff, c.c AS decile
      FROM (SELECT unnest(range(2, 11)) AS c) c CROSS JOIN nd
    ),
    growth AS (
      SELECT cp.decile, cp.cutoff,
             (SELECT coalesce(sum(t.n_toks), 0) FROM toks t
              WHERE t.doc_id <= cp.cutoff) AS tokens_cum,
             (SELECT count(*) FROM firsts f
              WHERE f.first_doc <= cp.cutoff) AS vocab_cum
      FROM checkpoints cp
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(tokens_cum AS BIGINT) AS tokens_cum,
           CAST(vocab_cum AS BIGINT) AS vocab_cum,
           CAST(floor(ln(vocab_cum) / ln(tokens_cum) * 1e6 + 0.5)
                AS BIGINT) AS beta_naive_x1e6
    FROM growth
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW VOCABULARY GROWTH — how the distinct-word count
    scales with corpus size, V(n) ~ K * n^beta (the sublinear law
    that sizes tokenizer vocabularies and dedup hash tables before a
    crawl is ingested): the curve is computed WITHOUT rescanning per
    checkpoint via the first-occurrence trick — each word reduces to
    its minimum doc_id once, and the vocabulary at any prefix cutoff
    is just a count of first occurrences below it (the same
    first-seen reduction the CDC-chunk and streaming-dedup entries
    pivot on).  Nine doc-count deciles report cumulative tokens,
    cumulative vocabulary, and the naive per-point exponent
    ln V / ln n as a single-rounding scaled integer (a diagnostic
    trace of beta, not a fit — the slope stabilizing is the
    Heaps-regime signature).

    100 TB shape: ONE token scan reduced to per-word first
    occurrences and per-doc token counts; every checkpoint is then a
    metadata aggregate over those reduced tables — the whole growth
    curve costs one corpus pass regardless of checkpoint count.
    North-star extension (SURVEY §2 text rows; the growth-curve
    sibling of zipf_rank_frequency_audit — Zipf fixes the frequency
    SHAPE, Heaps its integral)."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    # per-doc token counts materialized once (r9); the max-doc probe
    # reads it instead of re-tokenizing the corpus a third time
    toks = (
        words.groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"))
        .localCheckpoint()
    )
    nd = toks.agg(F.max("doc_id").alias("max_doc"))
    deciles = spark.range(2, 11).select(F.col("id").alias("decile"))
    checkpoints = deciles.crossJoin(F.broadcast(nd)).select(
        "decile",
        F.expr("(decile * (max_doc + 1)) div 10 - 1").alias("cutoff"),
    )
    tok_cum = (
        checkpoints.join(toks, toks["doc_id"] <= F.col("cutoff"))
        .groupBy("decile", "cutoff")
        .agg(F.sum("n_toks").alias("tokens_cum"))
    )
    voc_cum = (
        checkpoints.join(firsts, firsts["first_doc"] <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count("*").alias("vocab_cum"))
    )
    return (
        tok_cum.join(voc_cum, "decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("tokens_cum").cast("long").alias("tokens_cum"),
            F.col("vocab_cum").cast("long").alias("vocab_cum"),
            F.expr(
                "CAST(floor(ln(vocab_cum) / ln(tokens_cum) * 1e6 + 0.5)"
                " AS BIGINT)"
            ).alias("beta_naive_x1e6"),
        )
    )


@query(
    "good_turing_unseen_mass",
    r"""
    WITH words AS (
      SELECT u AS w FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS u
        FROM documents
      )
    ),
    wf AS (SELECT w, count(*) AS r FROM words GROUP BY w),
    fof AS (SELECT r, count(*) AS n_r FROM wf GROUP BY r),
    tot AS (
      SELECT (SELECT count(*) FROM words) AS n_tokens,
             (SELECT count(*) FROM wf) AS vocab
    )
    SELECT CAST(f.r AS BIGINT) AS r,
           CAST(f.n_r AS BIGINT) AS n_r,
           CAST(coalesce(g.n_r, 0) AS BIGINT) AS n_r_plus_1,
           CAST(CASE WHEN coalesce(g.n_r, 0) > 0
                     THEN ((f.r + 1) * g.n_r * 1000000) // f.n_r
                     ELSE 0 END AS BIGINT) AS r_star_x1e6,
           CAST((SELECT (n_r * 1000000) // t.n_tokens FROM fof
                 WHERE r = 1) AS BIGINT) AS p0_unseen_ppm,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.vocab AS BIGINT) AS vocab
    FROM fof f
    LEFT JOIN fof g ON g.r = f.r + 1
    CROSS JOIN tot t
    WHERE f.r <= 5
    """,
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING frequency estimation — the unseen-mass and
    adjusted-count arithmetic under every smoothed language model
    (how much probability belongs to words the corpus has NEVER
    seen: p0 = N1/N, the hapax share; and the discounted count
    r* = (r+1) * N_{r+1}/N_r for rare words): the
    frequency-of-frequencies table N_r comes from two exact
    map-side reductions (word counts, then counts-of-counts), and
    both the unseen mass (ppm) and each small-r adjusted count are
    single exact scaled integer divisions — the entry hashes the
    r <= 5 rows where Good-Turing actually matters, plus the raw
    N_r/N_{r+1} inputs so the estimator's arithmetic is fully
    pinned.

    100 TB shape: one token scan -> word counts -> O(distinct
    frequencies) table; everything after is metadata arithmetic.
    North-star extension (SURVEY §2 LLM rows; closes the
    corpus-statistics trio — Zipf fixes the rank-frequency shape,
    Heaps its integral, Good-Turing the probability the NEXT token
    is new)."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w")
    )
    wf = words.groupBy("w").agg(F.count("*").alias("r"))
    # materialize the O(max r) frequency-of-frequencies table (r9) and
    # derive the corpus totals from it algebraically (n_tokens =
    # sum r*n_r, vocab = sum n_r): the p0/smoothing/total forks
    # otherwise re-tokenized the corpus — 7 documents scans
    fof = wf.groupBy("r").agg(F.count("*").alias("n_r")).localCheckpoint()
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"),
        F.sum("n_r").alias("vocab"),
    )
    p0 = (
        fof.filter(F.col("r") == 1)
        .crossJoin(F.broadcast(tot.select("n_tokens")))
        .select(
            F.expr("(n_r * 1000000) div n_tokens").alias("p0_unseen_ppm")
        )
    )
    g = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    return (
        fof.filter(F.col("r") <= 5)
        .join(g, "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(p0))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_r"),
            F.coalesce(F.col("n_r1"), F.lit(0))
            .cast("long")
            .alias("n_r_plus_1"),
            F.when(
                F.coalesce(F.col("n_r1"), F.lit(0)) > 0,
                F.expr("((r + 1) * n_r1 * 1000000) div n_r"),
            )
            .otherwise(0)
            .cast("long")
            .alias("r_star_x1e6"),
            F.col("p0_unseen_ppm").cast("long").alias("p0_unseen_ppm"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
        )
    )


@query(
    "kl_js_divergence_sources",
    r"""
    WITH words AS (
      SELECT CASE WHEN CAST(substr(source, 4) AS BIGINT) < 10
                  THEN 'p' ELSE 'q' END AS side,
             u AS w
      FROM (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS u
        FROM documents
      )
    ),
    vocab AS (SELECT DISTINCT w FROM words),
    cnt AS (
      SELECT v.w,
             coalesce(p.n, 0) + 1 AS np,
             coalesce(q.n, 0) + 1 AS nq
      FROM vocab v
      LEFT JOIN (SELECT w, count(*) AS n FROM words
                 WHERE side = 'p' GROUP BY w) p ON p.w = v.w
      LEFT JOIN (SELECT w, count(*) AS n FROM words
                 WHERE side = 'q' GROUP BY w) q ON q.w = v.w
    ),
    tot AS (SELECT sum(np) AS tp, sum(nq) AS tq FROM cnt)
    SELECT CAST((SELECT count(*) FROM vocab) AS BIGINT) AS vocab_size,
           CAST(t.tp AS BIGINT) AS n_p_smoothed,
           CAST(t.tq AS BIGINT) AS n_q_smoothed,
           CAST(sum(CAST(floor(
                 (CAST(c.np AS DOUBLE) / t.tp)
                 * ln((CAST(c.np AS DOUBLE) / t.tp)
                      / (CAST(c.nq AS DOUBLE) / t.tq)) * 1e9 + 0.5)
                 AS BIGINT)) AS BIGINT) AS kl_pq_x1e9,
           CAST(sum(CAST(floor(
                 (CAST(c.np AS DOUBLE) / t.tp) * ln(
                   (CAST(c.np AS DOUBLE) / t.tp)
                   / ((CAST(c.np AS DOUBLE) / t.tp
                       + CAST(c.nq AS DOUBLE) / t.tq) / 2)) * 5e8 + 0.5)
                 AS BIGINT)
               + CAST(floor(
                 (CAST(c.nq AS DOUBLE) / t.tq) * ln(
                   (CAST(c.nq AS DOUBLE) / t.tq)
                   / ((CAST(c.np AS DOUBLE) / t.tp
                       + CAST(c.nq AS DOUBLE) / t.tq) / 2)) * 5e8 + 0.5)
                 AS BIGINT)) AS BIGINT) AS js_x1e9
    FROM cnt c CROSS JOIN tot t
    GROUP BY t.tp, t.tq
    """,
)
def kl_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL and JENSEN-SHANNON DIVERGENCE between the unigram
    distributions of two corpus halves (the distribution-shift
    measures behind domain-mixing decisions and DSIR-style
    importance weighting — KL is the likelihood-ratio expectation,
    JS its symmetric bounded cousin): sources src0-9 form P, src10-19
    Q, both add-one smoothed over the JOINT vocabulary (so no
    zero-denominator term exists by construction — the smoothing
    every practical KL needs, stated); every p*ln(p/q) term FLOORS
    ONCE to 1e-9 (1e-9/2 for the two JS halves) before the
    order-free integer sum — the entropy-microterm discipline, so
    both divergences are engine-decidable.  Smoothed totals and
    vocabulary size hash alongside.

    100 TB shape: two count tables from one token scan, a
    vocabulary-keyed join (word-keyed shuffle, the PMI/TF-IDF
    shape), scan-stage term arithmetic, one reduction.  North-star
    extension (SURVEY §2 LLM rows; completes the information-theory
    kit — entropy, PMI, information gain, and now divergences)."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.when(
            F.regexp_extract("source", r"(\d+)", 1).cast("long") < 10, "p"
        )
        .otherwise("q")
        .alias("side"),
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    # both sides' smoothed counts fold out of ONE conditional
    # aggregate over a single tokenize pass (r9: separate p/q/vocab
    # branches re-exploded the corpus 3x, and the totals fork doubled
    # it to 6 documents scans); the O(vocab) table is materialized
    # for the totals + divergence forks
    cnt = (
        words.groupBy("w")
        .agg(
            F.sum(F.when(F.col("side") == "p", 1).otherwise(0)).alias(
                "np0"
            ),
            F.sum(F.when(F.col("side") == "q", 1).otherwise(0)).alias(
                "nq0"
            ),
        )
        .select(
            (F.col("np0") + 1).alias("np"),
            (F.col("nq0") + 1).alias("nq"),
        )
        .localCheckpoint()
    )
    tot = cnt.agg(
        F.sum("np").alias("tp"),
        F.sum("nq").alias("tq"),
        F.count("*").alias("vocab_size"),
    )
    kl_term = (
        "CAST(floor((CAST(np AS DOUBLE) / tp)"
        " * ln((CAST(np AS DOUBLE) / tp) / (CAST(nq AS DOUBLE) / tq))"
        " * 1e9 + 0.5) AS BIGINT)"
    )
    js_term = (
        "CAST(floor((CAST(np AS DOUBLE) / tp) * ln("
        " (CAST(np AS DOUBLE) / tp)"
        " / ((CAST(np AS DOUBLE) / tp + CAST(nq AS DOUBLE) / tq) / 2))"
        " * 5e8 + 0.5) AS BIGINT)"
        " + CAST(floor((CAST(nq AS DOUBLE) / tq) * ln("
        " (CAST(nq AS DOUBLE) / tq)"
        " / ((CAST(np AS DOUBLE) / tp + CAST(nq AS DOUBLE) / tq) / 2))"
        " * 5e8 + 0.5) AS BIGINT)"
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .groupBy("tp", "tq", "vocab_size")
        .agg(
            F.sum(F.expr(kl_term)).alias("kl_pq_x1e9"),
            F.sum(F.expr(js_term)).alias("js_x1e9"),
        )
        .select(
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.col("tp").cast("long").alias("n_p_smoothed"),
            F.col("tq").cast("long").alias("n_q_smoothed"),
            F.col("kl_pq_x1e9").cast("long").alias("kl_pq_x1e9"),
            F.col("js_x1e9").cast("long").alias("js_x1e9"),
        )
    )
