"""Deduplication operators for LLM training-data pipelines.

Four tiers, all shuffle-shaped for 100 TB (no crossJoin, no
driver-side collection of data rows):

- exact            : hash-groupBy on content (queries.py::dedup_exact)
- minhash_lsh      : shingle -> minhash signature -> band -> bucket
                     self-join -> exact-jaccard verify.  The classic
                     Broder/LSH cascade: candidate generation cost is
                     O(sum bucket^2) within bands, never O(n^2).
- simhash          : 64-bit simhash via Arrow-batched pandas_udf over
                     JVM-computed token hashes; near-dups = equal
                     simhash band keys (hamming-adjacent buckets).
- ngram_jaccard    : exact jaccard on word n-gram sets for candidate
                     pairs that share a (rare-)shingle bucket.

All hashing is xxhash64 (JVM built-in, deterministic across the
cluster); the minhash permutations (a*x+b) mod p use fixed constants
derived from a seeded generator so results are reproducible run-to-run.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: (a * x') stays under 62 bits for a, x' < 2^31,
# so the permutation arithmetic never overflows LongType.
_MERSENNE = (1 << 31) - 1


def _hash_params(num: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num)
    ]


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column (JVM expression)."""
    words = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")
    return F.when(
        F.size(words) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - k),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Distinct xxhash64 values of the shingle set, as array<long>."""
    return F.transform(word_shingles(text, k), lambda s: F.xxhash64(s))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    fan_out: bool = True,
) -> DataFrame:
    """(__id, __sh, __sig) per document — Arrow/numpy-vectorized.

    Three formulations were measured at sf0.1 (5k docs × ~52 shingles
    × 64 perms, 32 cores):

    - per-row higher-order ``aggregate`` fold: Catalyst interprets HOF
      lambdas (~10µs/step) → 5.9 s;
    - explode + 64-way codegen min-aggregate: fast steady-state
      (~1.5 s) but the generated aggregate class costs ~5 s of
      one-time JIT compilation — dominating short jobs;
    - this one: shingling, hashing (blake2b/8B), and the signature all
      in ONE mapInPandas stage — concatenate the batch's shingle
      arrays, apply all 64 permutations as a (64, total) int64
      broadcast, segment-min with ``np.minimum.reduceat``.  ~50 ms of
      compute, no codegen, no interpreted HOF, one Arrow hop, no extra
      shuffle (mapInPandas is partition-preserving after the explicit
      fan-out repartition).

    int64 safety: a, x < 2^31 after the pmod fold, so a*x+b < 2^62.
    Rows are processed in bounded chunks so the (64, chunk_elems)
    intermediate stays O(MBs) regardless of Arrow batch size.
    """
    params = _hash_params(num_hashes, seed)
    a_vec = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b_vec = np.array([p[1] for p in params], dtype=np.int64)[:, None]

    # Explicit partition count: under AQE a keyless/advisory repartition
    # of a small input coalesces back to 1 task, serializing the
    # compute-dense stage; repartition(n, col) pins the fan-out
    # (defaultParallelism = total cluster cores on a real deployment).
    # fan_out=False skips this — the repartition is a full shuffle of
    # the raw text, which a well-partitioned production input (one
    # parquet split per core already) should never pay.
    src = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    )
    if fan_out:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
        src = src.repartition(n_parts, F.col("__id"))

    def _shingle_hashes_py(text: str) -> np.ndarray:
        """Distinct word-k-gram hashes, 64-bit (blake2b/8B — stable
        across processes, unlike the seeded builtin hash)."""
        words = (text or "").lower().split()
        if len(words) >= shingle_k:
            grams = {
                " ".join(words[i : i + shingle_k])
                for i in range(len(words) - shingle_k + 1)
            }
        else:
            grams = {" ".join(words)}
        return np.fromiter(
            (
                int.from_bytes(
                    hashlib.blake2b(g.encode(), digest_size=8).digest(),
                    "big",
                    signed=True,
                )
                for g in grams
            ),
            dtype=np.int64,
            count=len(grams),
        )

    def sig_batches(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), 2048):
                chunk = pdf.iloc[lo : lo + 2048]
                arrs = [_shingle_hashes_py(t) for t in chunk["__text"]]
                lens = np.fromiter((len(a) for a in arrs), dtype=np.int64)
                flat = np.concatenate(arrs) % _MERSENNE
                perms = (a_vec * flat[None, :] + b_vec) % _MERSENNE
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                # every doc yields >= 1 shingle, so every reduceat
                # segment is non-empty
                mins = np.minimum.reduceat(perms, starts, axis=1)
                yield pd.DataFrame(
                    {
                        "__id": chunk["__id"].to_numpy(),
                        "__sh": list(arrs),
                        "__sig": [mins[:, i] for i in range(len(arrs))],
                    }
                )

    return src.mapInPandas(
        sig_batches, "__id long, __sh array<long>, __sig array<long>"
    )


def band_buckets(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """``(__id, band, bucket)`` LSH band keys from a signature frame
    (``minhash_signatures`` output).  xxhash64 hashes the sliced
    signature array natively (no string round-trip); the band index
    salts the bucket key so ONE shuffle key spans all bands.  Shared
    by the batch LSH pipeline and the streaming near-dup ingest."""
    return sigs.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(
                            F.col("__sig"), b * rows_per_band + 1, rows_per_band
                        ),
                        b,
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "__id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    fan_out: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact jaccard >= threshold.

    ``fan_out=False`` skips the signature stage's explicit repartition
    (see ``minhash_signatures``) when the input's existing partitioning
    already saturates the cluster.

    Pipeline: signature -> explode band keys -> self-join per bucket ->
    distinct candidates -> verify with exact jaccard computed from
    CO-OCCURRENCE COUNTS over exploded 8-byte shingle hashes (the same
    inverted-index shape as ``ngram_jaccard_pairs``): |A∩B| is a
    count over (id, hash) row joins keyed on the candidate ids and the
    hash, |A∪B| = |A|+|B|-|A∩B| from per-doc set sizes.  Nothing
    wider than 24-byte rows ever shuffles — the earlier formulation
    shipped each candidate pair both full shingle-hash ARRAYS (~KBs
    per pair), which at corpus scale made verify traffic proportional
    to candidate count × document size instead of candidate count ×
    overlap.
    """
    rows_per_band = num_hashes // bands
    # Materialize (id, shingles, signature) ONCE: this frame feeds four
    # plan branches (banded self-join ×2, verify join ×2); without the
    # persist Catalyst recomputes the whole shingle+signature pipeline
    # per branch.  At cluster scale this is the "write signatures to a
    # table, then join" step of every production LSH pipeline.
    base = minhash_signatures(
        df, id_col, text_col, shingle_k, num_hashes, seed, fan_out=fan_out
    ).persist()
    # Eagerly materialize the cache: the four consumer branches below
    # otherwise race to compute the not-yet-cached signature stage
    # inside one job, duplicating the Python stage ~4× (measured 5.5 s
    # vs 0.9 s on a noop sink at sf0.1).  This is the lazy-cache analog
    # of "write signatures to a table, then join".
    base.count()

    # Shuffle fewer bytes (guide §2.3): the bucket hash already packs
    # the band — ``band_buckets`` seeds xxhash64 with the band index —
    # so the banded self-join keys on the single 8-byte bucket column
    # and the exchange carries exactly (__id, bucket) 16-byte rows
    # instead of (__id, band, bucket).  Same-band equal signatures
    # collide exactly as before; a cross-band hash coincidence can only
    # ADD a candidate pair, which the exact-jaccard verify stage then
    # scores — the verified output is content-defined either way (the
    # entry is oracled against brute-force all-pairs ground truth).
    banded = band_buckets(base, bands, rows_per_band).select("__id", "bucket")

    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )

    # array_distinct: the shingle GRAMS are distinct by construction
    # but their 64-bit hashes could (astronomically rarely) collide;
    # set semantics must hold exactly for the count-based jaccard
    ex = base.select(
        F.col("__id"), F.explode(F.array_distinct("__sh")).alias("__h")
    )
    sizes = base.select(
        "__id", F.size(F.array_distinct("__sh")).alias("__n")
    )
    inter = (
        candidates.join(ex.select(F.col("__id").alias("id_a"), "__h"), "id_a")
        .join(ex.select(F.col("__id").alias("id_b"), "__h"), ["id_b", "__h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    verified = (
        inter.join(
            sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        # floor(x*1e4+0.5)/1e4, not round(): pure-IEEE half-up on the
        # exact int/int quotient — bit-identical to any engine that
        # computes the same quotient (SQL-oracle-safe)
        .select(
            "id_a",
            "id_b",
            (F.floor(F.col("jaccard") * 10000 + F.lit(0.5)) / 10000).alias("jaccard"),
        )
    )
    return verified


def minhash_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Documents to KEEP after near-dedup: drop the higher id of every
    near-dup pair (greedy, matches the common 'keep first' policy)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kwargs)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 200,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact n-gram similarity pairs via inverted-index co-occurrence
    counting.

    ``metric="jaccard"`` scores |A(i)B| / |A(u)B|; ``"containment"``
    scores |A(i)B| / min(|A|, |B|) — the asymmetric nested-duplicate
    detector (a quoted or truncated copy scores 1.0 against its
    superset even when jaccard is low).  Same shuffle shape either
    way; only the final quotient differs.

    Candidate pairs share at least one shingle; buckets larger than
    ``max_bucket`` (stop-shingles) are dropped before the self-join —
    the standard prefix-filter guard that keeps bucket^2 bounded.

    Shingle sets are distinct per document, so the number of
    co-occurring index buckets IS |A∩B| and |A∪B| = |A|+|B|-|A∩B|:
    jaccard falls out of a count aggregate over (id_a, id_b) — the
    self-join shuffles only 16-byte id pairs, never the shingle arrays
    (measured 5x faster than the array_intersect verify join, which
    moved ~4 KB of array per candidate pair).  The count is exact as
    long as no bucket was pruned; when the stop-shingle guard actually
    fires the counts only cover rare shingles, so those pairs fall
    back to a full array verify — correctness never depends on the
    guard staying idle."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("__id"),
        shingle_hashes(F.col(text_col), shingle_k).alias("__sh"),
    ).persist()  # feeds the inverted index (×2 via self-join) + sizes
    sh.count()  # materialize before the fan-out (see minhash_lsh_pairs)
    inv = sh.select("__id", F.explode("__sh").alias("g"))
    buckets = inv.groupBy("g").count()
    pruned_any = bool(
        buckets.filter(F.col("count") > max_bucket).limit(1).count()
    )
    rare = buckets.filter(F.col("count") <= max_bucket).select("g")
    inv = inv.join(rare, "g")
    shared = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count("*").alias("__n_shared"))
    )
    sizes = sh.select("__id", F.size("__sh").alias("__n"))
    out_col = "containment" if metric == "containment" else "jaccard"
    if not pruned_any:
        if metric == "containment":
            jac = F.col("__n_shared") / F.least("__n_a", "__n_b")
        else:
            jac = F.col("__n_shared") / (
                F.col("__n_a") + F.col("__n_b") - F.col("__n_shared")
            )
        return (
            shared.join(
                sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__n_a")),
                "id_a",
            )
            .join(
                sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__n_b")),
                "id_b",
            )
            .withColumn("__score", jac)
            .filter(F.col("__score") >= threshold)
            # floor(x*1e4+0.5)/1e4, not round(): pure-IEEE half-up on
            # the exact int/int quotient — bit-identical to any engine
            # computing the same quotient (SQL-oracle-safe)
            .select(
                "id_a",
                "id_b",
                (F.floor(F.col("__score") * 10000 + F.lit(0.5)) / 10000).alias(out_col),
            )
        )
    # stop-shingles were pruned: counts are partial, verify with arrays
    cand = shared.select("id_a", "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    if metric == "containment":
        score = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    else:
        score = inter / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn("__score", score)
        .filter(F.col("__score") >= threshold)
        .select(
            "id_a",
            "id_b",
            (F.floor(F.col("__score") * 10000 + F.lit(0.5)) / 10000).alias(out_col),
        )
    )


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document.

    Token hashes are computed JVM-side (xxhash64); the bit-vote fold is
    a vectorized Arrow pandas_udf (numpy unpackbits) — the only Python
    hop, batched, ~O(tokens*8) per doc."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(hash_arrays: pd.Series) -> pd.Series:
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        for i, arr in enumerate(hash_arrays):
            if arr is None or len(arr) == 0:
                continue
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            bits = np.unpackbits(a.view(np.uint8).reshape(-1, 8), axis=1)
            votes = bits.sum(axis=0) * 2 - len(a)  # +1/-1 votes per bit
            sim_bits = (votes > 0).astype(np.uint8)
            out[i] = np.packbits(sim_bits).view(np.int64)[0]
        return pd.Series(out)

    tokens = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    token_hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col), _simhash(token_hashes).alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose simhash shares at least one of the
    64/band_bits bands (hamming-bounded blocking), verified by full
    64-bit hamming distance <= max_hamming (bit_count of xor,
    JVM-side).  Without the verify step, boilerplate-heavy corpora
    collapse into giant band buckets and the candidate set explodes
    (measured 8.5M candidate pairs from 5k synthetic docs)."""
    sims = simhash64(df, id_col, text_col).persist()  # self-joined below
    sims.count()  # materialize before the self-join (see minhash_lsh_pairs)
    nbands = 64 // band_bits
    banded = sims.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("hamming"),
        )
        .distinct()
    )
