"""Deduplication operators for web-scale corpora.

Five families, each expressed shuffle-consciously:

* exact        — hash-groupBy: one shuffle on the content fingerprint.
* MinHash+LSH  — shingle → P minhashes → B band keys → bucket join;
                 only same-bucket candidates get exact verification.
                 All signature math is native (xxhash64/array exprs,
                 whole-stage codegen); no Python in the hot path.
* SimHash      — 64-bit signature from token hashes (numpy over
                 Arrow batches), chunk-bucketed candidate join,
                 hamming via native ``bit_count(a ^ b)``.
* n-gram Jaccard — shingle-inverted-index blocking (explode → join on
                 shared shingle) + exact Jaccard verify.
* embedding    — random-hyperplane LSH buckets + exact cosine verify.

Scale notes: every candidate-pair join is an equi-join on a bucket
key (shuffle-partitionable, AQE-skew-splittable); nothing ever does a
full cross-join. Dedup keeps the smallest id per duplicate group
(greedy pair-drop — the standard near-dedup practice; a full
connected-components pass is a documented extension).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Persisted frames handed back inside lazy results (ngram_jaccard_pairs'
# shingles, duplicated_span_stats' windows). A long-lived session doing
# many calls should release them once results are consumed.
_LIVE_CACHES: list[DataFrame] = []


def release_dedup_caches() -> None:
    """Unpersist every cache a datapipe call left alive inside a
    returned (lazy) result. Call after the result is materialized."""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per identical content (sha256 fingerprint)."""
    fp = F.sha2(F.col(content_col), 256)
    w = Window.partitionBy(fp).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _spread(df: DataFrame) -> DataFrame:
    """Heavy per-row projections (the 64-hash minhash signature, simhash
    votes) must not inherit a tiny input split count: a 100 TB table
    arrives in thousands of splits, but a small single-file table would
    serialize the whole projection on one core (measured 3x on the
    bench corpus). Round-robin repartition up to the session's
    parallelism when the SCAN is under-split; row-wise deterministic
    expressions are partition-invariant, so results are unchanged.

    Split detection reads plan metadata only (``inputFiles``) — no RDD
    conversion, no job. A file count at or above the parallelism means
    the scan already yields enough splits; fewer files may still split
    by byte range, but a small file is single-row-group in practice, so
    the explicit round-robin is the reliable path. Non-file inputs
    (empty ``inputFiles``) pass through untouched."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------- shingles
def word_shingles(col, k: int = 3):
    """k-word shingles, fully native: split → sliding slices."""
    words = F.split(F.trim(col), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.when(
        n >= k,
        F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), " "))),
    ).otherwise(F.array(F.array_join(words, " ")))


# --------------------------------------------------------- MinHash + LSH
# Universal-hash modulus for the minhash permutations: the Mersenne
# prime 2^31 - 1. 31-bit operands keep every intermediate
# (a*h + b < 2^62 + 2^31) inside int64, so the affine rehash is safe
# under ANSI-on sessions — no overflow possible by construction.
_M31 = (1 << 31) - 1


def _perm_coeffs(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded affine coefficients (a_p, b_p), a_p != 0 — baked into the
    plan as literals. Replicated verbatim by the oracle generator."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _M31, size=num_perm)
    b = rng.integers(0, _M31, size=num_perm)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signature(hashes_col, num_perm: int = 64, seed: int = 42):
    """P minhashes by universal hashing over ONE base hash per shingle:
    sig_p = min over shingles of (a_p * h31 + b_p) mod (2^31 - 1),
    where h31 = xxhash64(shingle) mod (2^31 - 1).

    Built as a SINGLE array traversal: an aggregate whose accumulator is
    the 64-element running-min array, each step folding one shingle's 64
    affine rehashes in via an elementwise zip_with/least. One expression
    per ROW, not per permutation — P separate
    ``array_min(transform(...))`` expressions each re-evaluate the whole
    shingle/hash chain, because higher-order functions are interpreted
    (CodegenFallback: no whole-stage-codegen subexpression elimination),
    which measured ~6x slower at 64 perms. This is the standard MinHash
    construction (datasketch-style (a*h+b) mod p); NOTE inner lambdas
    here must be single-parameter — F.transform/zip_with call 2-param
    lambdas as fn(element, index), the round-3 permutation-collapse bug.

    ``hashes_col`` is the int64 shingle-hash array (the same array the
    Jaccard verify uses), NOT the shingle strings.
    """
    a, b = _perm_coeffs(num_perm, seed)

    def step(acc, h):
        h31 = F.pmod(h, F.lit(_M31))
        vals = F.array(
            *[
                F.pmod(h31 * F.lit(a[p]) + F.lit(b[p]), F.lit(_M31))
                for p in range(num_perm)
            ]
        )
        return F.zip_with(acc, vals, lambda x, y: F.least(x, y))

    # identity: M31 exceeds every rehash value (range [0, M31-1]); the
    # shingle array is never empty (word_shingles yields >= 1)
    return F.aggregate(
        hashes_col,
        F.array_repeat(F.lit(_M31).cast("long"), num_perm),
        step,
    )


# Posting-list cap per LSH band bucket. Buckets larger than this are
# near-certainly clusters of near-identical documents (a random band-key
# collision among dissimilar docs is ~2^-64); they switch from all-pairs
# to representative pairing (min-id doc vs every other member) — O(m)
# instead of O(m^2) in the bucket, the scale-killer for web corpora
# where giant exact-dup clusters are the norm. Not a silent cap: stats
# come back via minhash_bucket_stats().
HOT_BUCKET_CAP = 32


def _minhash_base(
    df: DataFrame, id_col: str, text_col: str, num_perm: int, shingle_k: int
) -> DataFrame:
    """ONE scan computing both the verify set and the LSH signature:
    (id, hs = int64 shingle hashes, sig = minhash signature). The
    shingle strings are hashed exactly once — the signature is derived
    from the SAME hash array the verify uses (universal rehash), so the
    heavy string projection never runs twice."""
    sh = word_shingles(F.col(text_col), shingle_k)
    df = _spread(df)
    hs = F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))
    return df.select(
        F.col(id_col).alias("id"),
        hs.alias("hs"),
        minhash_signature(hs, num_perm).alias("sig"),
    )


def _band_keys(sig_col, num_perm: int, bands: int):
    rows_per_band = num_perm // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(",", *[
                        F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ])
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def _banded_candidates(base: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Candidate pairs (a < b) sharing ≥1 band bucket, hot buckets
    degraded to representative pairing (see HOT_BUCKET_CAP)."""
    banded = base.select(
        "id", F.explode(_band_keys(F.col("sig"), num_perm, bands)).alias("bk")
    ).select("id", "bk.band", "bk.key")
    w = Window.partitionBy("band", "key")
    annotated = banded.withColumn("__n", F.count(F.lit(1)).over(w)).withColumn(
        "__rep", F.min("id").over(w)
    )
    # singleton buckets (the vast majority: 16 per unique doc) never
    # reach the self-join at all
    small = annotated.filter((F.col("__n") >= 2) & (F.col("__n") <= HOT_BUCKET_CAP))
    l, r = small.alias("l"), small.alias("r")
    pairs_small = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l.id") < F.col("r.id")),
    ).select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    pairs_hot = (
        annotated.filter((F.col("__n") > HOT_BUCKET_CAP) & (F.col("id") != F.col("__rep")))
        .select(F.col("__rep").alias("a"), F.col("id").alias("b"))
    )
    return pairs_small.unionByName(pairs_hot).distinct()


def minhash_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> dict:
    """No-silent-caps accounting: how many band buckets exceeded
    HOT_BUCKET_CAP (→ representative pairing) and the largest bucket."""
    base = _minhash_base(df, id_col, text_col, num_perm, shingle_k)
    banded = base.select(
        "id", F.explode(_band_keys(F.col("sig"), num_perm, bands)).alias("bk")
    ).select("bk.band", "bk.key")
    sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum(F.when(F.col("n") > HOT_BUCKET_CAP, 1).otherwise(0)).alias("hot_buckets"),
        F.max("n").alias("max_bucket"),
    ).collect()[0]
    return {"buckets": int(row["buckets"]), "hot_buckets": int(row["hot_buckets"] or 0),
            "max_bucket": int(row["max_bucket"] or 0), "cap": HOT_BUCKET_CAP}


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate pairs (a < b) sharing ≥1 LSH band bucket."""
    base = _minhash_base(df, id_col, text_col, num_perm, shingle_k)
    return _banded_candidates(base, num_perm, bands)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs → pairs ≥ threshold.

    ``shingles`` (schema ``(id, sh)``) lets a caller that already built
    the shingle relation pass it in — the split/shingle chain is the
    dominant per-row cost and must not recompute per probe join."""
    sh = shingles if shingles is not None else df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return j


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Drop every doc that near-duplicates a smaller-id doc.

    Plan shape (the 100 TB story): one scan builds (id, shingle-hash
    array, minhash signature), persisted and reused by BOTH the
    candidate join and the verify join — signatures are never
    recomputed. Candidates join on the band key with singleton buckets
    pruned and hot buckets linearized (HOT_BUCKET_CAP); verify computes
    exact Jaccard over the compact int64 shingle-hash arrays (identical
    value to string-shingle Jaccard modulo 64-bit hash collisions),
    never re-carrying raw shingle strings through a shuffle.
    """
    from ..pipeline import CACHE_LEVEL

    # persist: the signature scan feeds three plan subtrees (band join
    # left/right via exchange reuse, verify probe x2); without it the
    # 64-hash projection runs per subtree. The engine's CACHE_LEVEL
    # (memory and disk, deserialized) — eviction only costs recompute,
    # never correctness. Lifecycle: to_drop (ids only — tiny relative to
    # the corpus) is materialized eagerly as a local checkpoint, then the
    # fat signature cache is released immediately, so repeated calls in
    # a long-lived session don't accumulate cached signature blocks. A
    # checkpoint is this call's own: a persisted to_drop would be reused
    # by a later call with the same plan even after its input files were
    # replaced. Its blocks go when the returned frame is garbage.
    base = _minhash_base(df, id_col, text_col, num_perm, shingle_k).persist(CACHE_LEVEL)
    try:
        cands = _banded_candidates(base, num_perm, bands)
        hs = base.select("id", "hs")
        dups = (
            cands.join(hs.withColumnRenamed("id", "a").withColumnRenamed("hs", "hs_a"), "a")
            .join(hs.withColumnRenamed("id", "b").withColumnRenamed("hs", "hs_b"), "b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("hs_a", "hs_b"))
                / F.size(F.array_union("hs_a", "hs_b")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        to_drop = (dups.select(F.col("b").alias(id_col)).distinct()
                   .localCheckpoint(storageLevel=CACHE_LEVEL))
    finally:
        base.unpersist()
    return df.join(to_drop, id_col, "left_anti")


# ---------------------------------------------------------------- SimHash
def simhash_column(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash. Token hashes are computed natively
    (xxhash64 per token); only the 64-bit majority vote runs in numpy
    over Arrow batches (ragged bit unpack has no Column expression)."""
    df = _spread(df)
    token_hashes = F.transform(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: F.xxhash64(w))

    @F.pandas_udf("long")
    def _simhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            out = np.zeros(len(s), dtype=np.int64)
            for i, hashes in enumerate(s):
                if hashes is None or len(hashes) == 0:
                    continue
                h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
                bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
                    np.int64
                )
                votes = bits.sum(axis=0) * 2 - len(h)
                sig = np.uint64(0)
                for j in np.nonzero(votes > 0)[0]:
                    sig |= np.uint64(1) << np.uint64(j)
                out[i] = np.int64(sig)
            yield pd.Series(out, index=s.index)

    return df.withColumn(out_col, _simhash(token_hashes))


def simhash_candidates(
    df: DataFrame, id_col: str = "doc_id", sim_col: str = "simhash", max_hamming: int = 3
) -> DataFrame:
    """Chunk-bucketed candidate join: split the 64-bit sig into 4
    16-bit chunks — any pair within hamming ≤ 3 shares ≥1 exact chunk
    (pigeonhole). Hamming via native bit_count(a ^ b).

    The 4-chunk blocking guarantees recall only for hamming ≤ 3: at 4
    differing bits the pigeonhole can place one flip in every chunk and
    the true pair never meets. Rejected loudly rather than silently
    under-recalling (a wider radius needs more/overlapping chunks)."""
    if max_hamming > 3:
        raise ValueError(
            f"simhash 4×16-bit chunk blocking guarantees recall only for "
            f"max_hamming <= 3 (got {max_hamming}); raise the chunk count "
            f"or use minhash for wider radii"
        )
    chunks = df.select(
        F.col(id_col).alias("id"),
        F.col(sim_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col(sim_col), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sig", "ck.chunk", "ck.val")
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    with_sig = simhash_column(df, text_col)
    dups = simhash_candidates(with_sig, id_col, "simhash", max_hamming)
    to_drop = dups.select(F.col("b").alias(id_col)).distinct()
    return df.join(to_drop, id_col, "left_anti")


# --------------------------------------------------------- n-gram Jaccard

# Document-frequency cap on the inverted-index join key — the exact
# analogue of HOT_BUCKET_CAP for the shingle self-join. A stop-phrase
# shingle shared by m documents makes the all-pairs join emit m^2
# candidate rows; web corpora guarantee such shingles, so uncapped this
# operator is quadratic at scale. Shingles above the cap switch to
# representative pairing (min-id holder vs every other holder): O(m),
# and still links every member of a giant identical cluster to its
# representative. A true near-dup pair (Jaccard ≥ 0.5 over shingle
# SETS) shares many shingles — losing candidacy requires EVERY shared
# shingle to be corpus-hot, which near-dup pairs don't exhibit. Not a
# silent cap: ngram_shingle_stats() reports hot-shingle counts.
NGRAM_DF_CAP = 64


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """All pairs ≥ threshold via inverted-index blocking: explode
    shingles → equi-join on shingle (document frequency ≤ df_cap;
    hotter shingles degrade to representative pairing) → distinct
    candidate pairs → exact Jaccard. Never a cross-join; the join key
    is the shingle itself."""
    sh = _spread(df).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_k).alias("sh")
    ).persist()  # one shingle pass feeds the index AND both verify probes
    _LIVE_CACHES.append(sh)  # released by release_dedup_caches()
    inv = sh.select("id", F.explode("sh").alias("shingle"))
    w = Window.partitionBy("shingle")
    annotated = inv.withColumn("__df", F.count(F.lit(1)).over(w)).withColumn(
        "__rep", F.min("id").over(w)
    )
    cold = annotated.filter((F.col("__df") >= 2) & (F.col("__df") <= df_cap))
    l, r = cold.alias("l"), cold.alias("r")
    pairs_cold = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    pairs_hot = (
        annotated.filter((F.col("__df") > df_cap) & (F.col("id") != F.col("__rep")))
        .select(F.col("__rep").alias("a"), F.col("id").alias("b"))
    )
    cands = pairs_cold.unionByName(pairs_hot).distinct()
    return jaccard_verify(df, cands, id_col, text_col, shingle_k, threshold,
                          shingles=sh)


def ngram_shingle_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    df_cap: int = NGRAM_DF_CAP,
) -> dict:
    """No-silent-caps accounting for ngram_jaccard_pairs: how many
    distinct shingles exceeded df_cap (→ representative pairing) and
    the hottest shingle's document frequency."""
    sh = df.select(word_shingles(F.col(text_col), shingle_k).alias("sh"))
    freq = sh.select(F.explode("sh").alias("shingle")).groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = freq.agg(
        F.count(F.lit(1)).alias("shingles"),
        F.sum(F.when(F.col("n") > df_cap, 1).otherwise(0)).alias("hot_shingles"),
        F.max("n").alias("max_df"),
    ).collect()[0]
    return {
        "shingles": int(row["shingles"]),
        "hot_shingles": int(row["hot_shingles"] or 0),
        "max_df": int(row["max_df"] or 0),
        "cap": df_cap,
    }


# --------------------------------------------- exact duplicated spans
# Substring-level exact dedup accounting (the "Deduplicating Training
# Data Makes Language Models Better" operation, doc-grain): every
# k-token sliding window is hashed; a window whose span recurs —
# anywhere in the corpus, including inside the same document — is a
# duplicated span. Emitted per doc as (total_windows, dup_windows,
# dup_frac) so a pipeline can drop or down-weight documents whose text
# is mostly boilerplate (nav bars, license headers, mirrored articles).
#
# Scale shape (the reason this is NOT the suffix-array formulation):
# windows explode to one row per position (rows ≈ tokens — linear),
# span frequency is ONE hash-partitioned groupBy with map-side partial
# aggregation, and the flag comes back via an equi-join on the span
# hash — AQE-skew-splittable, never a pair join, so a span shared by m
# documents costs O(m) rows, not O(m²). A suffix array finds variable-
# length maximal repeats but needs global ordering; fixed-k windows
# keep the whole job in two shuffles and are the standard web-corpus
# practice (k ≈ 50 BPE tokens upstream; word-grain here).


def span_windows(col, k: int = 8):
    """Positional k-word sliding windows, fully native:
    array<struct<pos:int, h:bigint>> — ``h`` = xxhash64 of the
    space-joined window. Documents shorter than k words have no
    k-window (empty array), matching the substring-dedup convention
    (a short doc cannot contain a length-k duplicate)."""
    ws = F.split(F.trim(col), r"\s+")
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    win = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.xxhash64(F.array_join(F.slice(ws, i, k), " ")).alias("h"),
        ),
    )
    return F.when(n >= k, win).otherwise(
        F.array().cast("array<struct<pos:int,h:bigint>>")
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_k: int = 8,
    min_occurrences: int = 2,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Per-document duplicated-span accounting:
    (id_col, total_windows, dup_windows, dup_frac).

    A window is duplicated when its span hash occurs >= min_occurrences
    times corpus-wide (``cross_doc_only=True`` counts DISTINCT
    documents instead — self-repetition inside one doc then doesn't
    count). Docs shorter than span_k words report (0, 0, 0.0).

    Plan: explode windows (linear in tokens) → groupBy(h) span
    frequency (map-side combine) → equi-join back on h → per-doc
    aggregate → left join to the full id set. Two shuffles + the
    join; no candidate pairs exist anywhere.
    """
    win = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(span_windows(F.col(text_col), span_k)).alias("w"),
        )
        .select("id", F.col("w.h").alias("h"))
        .persist()  # one window pass feeds the freq build AND the join back
    )
    _LIVE_CACHES.append(win)
    occ = F.count_distinct(F.col("id")) if cross_doc_only else F.count(F.lit(1))
    freq = win.groupBy("h").agg(occ.alias("n_occ"))
    per_doc = (
        win.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("total_windows"),
            F.sum(
                (F.col("n_occ") >= F.lit(min_occurrences)).cast("long")
            ).alias("dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("total_windows", F.lit(0)).alias("total_windows"),
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.when(
                F.coalesce("total_windows", F.lit(0)) > 0,
                F.col("dup_windows") / F.col("total_windows"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def top_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_k: int = 8,
    limit: int = 100,
) -> DataFrame:
    """The most-repeated spans THEMSELVES (span text, occurrence count,
    distinct-doc count), descending — the inspection companion to
    duplicated_span_stats (what IS the boilerplate?). Groups on the
    span string (not the hash) so the output is directly readable;
    ordered by (count desc, span) for a deterministic cut at
    ``limit``. One explode + one groupBy; the top-N is a TakeOrdered,
    not a full sort."""
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(span_k - 1), F.lit(1)))
    spans = F.when(
        n >= span_k,
        F.transform(idx, lambda i: F.array_join(F.slice(ws, i, span_k), " ")),
    ).otherwise(F.array().cast("array<string>"))
    return (
        _spread(df)
        .select(F.col(id_col).alias("id"), F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("id").alias("n_docs"),
        )
        .filter(F.col("n_occ") >= 2)
        .orderBy(F.col("n_occ").desc(), F.col("span"))
        .limit(limit)
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    span_k: int = 13,
    drop: bool = False,
) -> DataFrame:
    """Benchmark decontamination — the GPT-3/PaLM-style rule: a training
    document is contaminated when it shares ANY ``span_k``-word window
    (13 by convention) with the benchmark/eval set.

    Returns per-doc ``(id_col, n_windows, n_contaminated, contaminated)``,
    or with ``drop=True`` the clean subset of ``df`` itself (original
    schema). Docs shorter than span_k words have no window and are never
    contaminated.

    Plan: window-hash BOTH sides with the same native ``span_windows``
    expression (linear in tokens, row-local), distinct the benchmark's
    hash set, then a broadcast LEFT SEMI-shaped join back. An eval suite
    is a few thousand documents — its distinct 13-gram set is megabytes,
    so it broadcasts explicitly and the 10^12-doc side never shuffles:
    the whole decontamination pass is a map over the training corpus.
    (If a giant benchmark ever exceeds broadcast limits, drop the
    ``F.broadcast`` hint and Spark falls back to a shuffle join — the
    plan stays linear either way; there is no pair join.)"""
    btc = bench_text_col or text_col
    bench_hashes = F.broadcast(
        benchmark.select(
            F.explode(span_windows(F.col(btc), span_k)).alias("w")
        )
        .select(F.col("w.h").alias("h"))
        .distinct()
    )
    win = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(span_windows(F.col(text_col), span_k)).alias("w"),
    ).select("id", F.col("w.h").alias("h"))
    per_doc = (
        win.join(bench_hashes.withColumn("__hit", F.lit(1)), "h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("__hit", F.lit(0)).cast("long")).alias(
                "n_contaminated"
            ),
        )
    )
    stats = (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )
    if not drop:
        return stats
    return df.join(
        stats.filter(F.col("contaminated")).select(F.col(id_col)),
        id_col,
        "left_anti",
    )


# ------------------------------------------- connected-component groups
def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 50
) -> DataFrame:
    """(id, component) for every node in the pairs edge-list, component
    = min reachable id. Iterative min-label propagation over the
    symmetric edge list: each round every node takes the min of its own
    label and its neighbors' labels; converges in O(diameter) rounds
    (near-dup clusters are shallow — a handful of rounds in practice;
    the driver loop is per-ROUND, not per-row, so this stays fully
    distributed). Each round is one shuffle on the node id, and the
    round's labels are CHECKPOINTED — an iterative DataFrame whose plan
    nests the previous round's plan grows exponentially, so lineage
    must be truncated every round, not merely persisted. Uses the
    session's reliable checkpoint dir when one is configured (the
    cluster story — survives executor loss), else localCheckpoint.

    Storage stays O(1) in rounds, not O(rounds): a localCheckpoint
    pins its blocks in executor storage and neither unpersist() nor
    driver GC frees them promptly (verified empirically), so each
    superseded round's checkpoint RDD is released EXPLICITLY once the
    next round has materialized and the convergence check has read it
    — without this, a deep graph evicts the edges cache with dead
    label snapshots. (Reliable-checkpoint FILES are left to the
    context cleaner; only the block-manager entries are freed here.)
    """
    from ..pipeline import CACHE_LEVEL

    sc = pairs.sparkSession.sparkContext

    def _truncate(df: DataFrame) -> tuple[DataFrame, int]:
        if sc._jsc.sc().getCheckpointDir().isDefined():
            out = df.checkpoint(eager=True)
        else:
            out = df.localCheckpoint(eager=True)
        # the checkpointed plan is a LogicalRDD; its RDD id keys the
        # block-manager entry we must release when the round is over
        return out, int(out._jdf.queryExecution().analyzed().rdd().id())

    def _release(rdd_id: int) -> None:
        m = sc._jsc.getPersistentRDDs()
        if m.containsKey(rdd_id):
            m.get(rdd_id).unpersist()

    edges = (
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .unionByName(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .distinct()
        .persist(CACHE_LEVEL)
    )
    try:
        labels, labels_id = _truncate(
            edges.select(F.col("s").alias("id")).distinct().withColumn("comp", F.col("id"))
        )
        for _ in range(max_iter):
            # neighbor-propagated labels: node s sees d's current label
            prop = (
                edges.join(labels.withColumnRenamed("id", "d"), "d")
                .select(F.col("s").alias("id"), "comp")
            )
            new_labels, new_id = _truncate(
                labels.unionByName(prop).groupBy("id").agg(F.min("comp").alias("comp"))
            )
            changed = (
                new_labels.join(labels.withColumnRenamed("comp", "old"), "id")
                .filter(F.col("comp") != F.col("old"))
                .count()
            )
            # the old round's checkpoint has now been read for the last
            # time (new_labels is materialized, convergence checked)
            _release(labels_id)
            labels, labels_id = new_labels, new_id
            if changed == 0:
                break
        return labels
    finally:
        edges.unpersist()


def dedup_connected_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep exactly one doc (the min id) per CONNECTED COMPONENT of the
    near-dup pair graph — the transitive-closure semantics
    (A~B, B~C ⇒ A,B,C one group even when A≁C directly) that greedy
    pair-drop approximates. Everything not in any pair passes through.
    """
    comps = connected_components(pairs)
    drop = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ------------------------------------------------- embedding near-dup
def hyperplane_signature(emb_col, n_planes: int, dim: int, seed: int = 42):
    """Random-hyperplane sign bits → one long. Planes are seeded numpy
    constants baked into the plan (broadcast-free: they're literals)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bits = []
    for p in range(n_planes):
        dot = F.aggregate(
            F.zip_with(
                emb_col,
                F.array(*[F.lit(float(x)) for x in planes[p]]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def cosine_sim(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs: hyperplane-LSH bucket join + exact verify."""
    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        hyperplane_signature(F.col(emb_col), n_planes, dim, seed).alias("bucket"),
    )
    l, r = sig.alias("l"), sig.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            cosine_sim(F.col("l.emb"), F.col("r.emb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Corpus-wide duplicate-LINE removal (C4 §2.1 / RefinedWeb-style): any line
# occurring more than once in the corpus keeps exactly ONE occurrence — the
# first in deterministic (doc, position) order — and every other copy is cut
# out of its document. Differs from duplicated_span_stats, which only
# ACCOUNTS for repeated spans; this op rewrites the text.
#
# Scale shape (10^12 docs): the first-occurrence pick is a groupBy(line
# hash).agg(min(struct(doc,pos))) — partial aggregation combines map-side,
# so a boilerplate line repeated 10^9 times costs one partial per task, NOT
# a single-partition window sort (the naive row_number-over-line plan
# stragglers exactly there). The join back is hash-partitioned on the line
# key with AQE skew splitting; reassembly shuffles once on doc_id (rows =
# kept lines, linear). Lines shorter than min_chars never enter the
# key-space at all — C4 dedups substantial lines only, and the short/blank
# ones are precisely the hottest keys.


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Remove corpus-wide duplicate lines, keeping the first occurrence
    by ``(doc, position)`` order. Returns one row per input doc with
    the rewritten ``text`` plus ``n_lines`` / ``n_removed`` audit
    columns. Lines with fewer than ``min_chars`` characters are always
    kept (and never considered duplicates of each other)."""
    import re as _re

    doc = F.col(id_col)
    lines = df.select(
        doc.alias("__doc"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
        .alias("__pos", "__line"),
    )
    eligible = F.length("__line") >= min_chars
    # sub-min_chars lines never touch the keyed join — they are the
    # hottest keys and need no dedup decision at all
    inelig = lines.filter(~eligible)
    keyed = lines.filter(eligible).withColumn("__h", F.xxhash64("__line"))
    # carry the first occurrence's LINE so removal can demand content
    # equality: a 64-bit collision then KEEPS the colliding line (a
    # missed removal at ~2^-64 per pair) instead of silently deleting
    # a unique line from a document (review finding). (doc,pos) is
    # unique, so adding __line to the struct never changes the min.
    first = keyed.groupBy("__h").agg(
        F.min(F.struct("__doc", "__pos", "__line")).alias("__first"))
    kept = (
        keyed.join(first, "__h", "left")
        .filter(
            (
                (F.col("__first.__doc") == F.col("__doc"))
                & (F.col("__first.__pos") == F.col("__pos"))
            )
            | (F.col("__first.__line") != F.col("__line"))
        )
        .select("__doc", "__pos", "__line")
        .unionByName(inelig)
    )
    rebuilt = kept.groupBy("__doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    # null-text docs produce no exploded rows — the left join restores
    # them with text null and zero counted lines, like the input
    n_in = F.size(F.split(F.col(text_col), _re.escape(sep)))
    return (
        df.withColumn("__n_in", n_in)
        .join(rebuilt, doc == F.col("__doc"), "left")
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
                F.coalesce(F.col("__text"), F.lit(""))
            ),
        )
        .withColumn("n_lines", F.coalesce(F.col("__n_in"), F.lit(0)))
        .withColumn(
            "n_removed",
            F.coalesce(F.col("__n_in"), F.lit(0))
            - F.coalesce(F.col("__kept"), F.lit(0)),
        )
        .drop("__doc", "__text", "__kept", "__n_in")
    )
