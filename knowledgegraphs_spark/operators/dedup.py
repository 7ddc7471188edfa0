"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → k salted min-hashes →
band-key buckets), word-n-gram Jaccard (shingle-bucket combination), and
SimHash (numpy-vectorized Arrow UDF, multi-rotation buckets). The md5
MinHash/Jaccard/exact paths use md5 everywhere so the DuckDB oracles
compute bit-identical values; SimHash's bit-vote is reproduced in SQL too.

Scale notes: candidate pairs come from bucket ``groupBy`` +
``collect_list`` + in-bucket combination explode, NEVER a self-join — a
self-join's sides are planned independently, so the join form evaluates
the whole upstream (shingling, signature folds, UDFs) once per side.
Shingles with document frequency above ``max_shingle_df`` are pruned
(head shingles produce quadratic candidate blow-up — the same
meta-blocking practice as the mention matcher); posting lists stay
bounded by those df caps.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text_analysis import shingles


# sorts after every lowercase-hex md5 digest → safe "+infinity" sentinel
_MINHASH_SENTINEL = "~"


def _salted_hashes(family: str, k: int):
    """Per-shingle array of k salted hashes, as JVM expressions for BOTH
    families — fixed-width/lowercase hex strings whose string `least` is
    the numeric min. Round-1 measured the md5 family "~15× slower", but
    that was the banding re-evaluation blowup, not MessageDigest: with the
    single-evaluation shape below, JVM md5 over ~4 M salted shingles runs
    in single-digit seconds at sf0.1 — so NO Python is left anywhere in
    the MinHash path (the earlier Arrow/hashlib variant also paid a
    30-40 s cold spawn of one Python worker per core on a busy box)."""
    if family == "md5":
        return lambda s: F.array(*[F.md5(F.concat(F.lit(f"{i}|"), s)) for i in range(k)])
    return lambda s: F.array(
        *[F.lpad(F.hex(F.xxhash64(F.lit(i), s)), 16, "0") for i in range(k)]
    )


def _fold_signature(sh, k: int, family: str, finish):
    per_shingle = F.transform(sh, _salted_hashes(family, k))
    return F.aggregate(
        per_shingle,
        F.array_repeat(F.lit(_MINHASH_SENTINEL), k),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
        lambda acc: F.when(F.element_at(acc, 1) != _MINHASH_SENTINEL, finish(acc)),
    )


def minhash_signature(text_col: str, k: int = 16, n: int = 3, family: str = "xxhash64"):
    """k-permutation MinHash signature: the i-th hash is min over shingles
    of a salted hash (``family`` = ``xxhash64`` — the codegen'd production
    default — or ``md5``, bit-identical to the DuckDB oracle twin). NULL
    for shingle-less docs, matching the oracle's ``len(sh) > 0``.

    Shape: ONE ``transform`` computes all k salted hashes per shingle,
    then ``aggregate`` + ``zip_with(least)`` folds the element-wise min —
    k separate ``array_min(transform(...))`` would re-inline the shingle
    expression k times after Catalyst project collapse."""
    sh = shingles(F.col(text_col), n)
    return _fold_signature(sh, k, family, lambda acc: acc)


def minhash_band_keys(
    text_col: str, k: int = 16, bands: int = 4, n: int = 3, family: str = "xxhash64"
):
    """array<string> of ``bands`` LSH band keys (md5 over the '|'-joined
    band slice of the signature), NULL for shingle-less docs.

    The banding MUST happen where the signature is a BOUND value, not a
    re-derivable expression: building band keys from ``element_at(sig, …)``
    in a later projection lets Catalyst's project-collapse substitute the
    whole signature fold into every element reference — 16 re-evaluations
    of the full MinHash per row (measured 45.9 s vs 4.4 s for the fold
    alone at sf0.1). Here the keys are emitted in the ``aggregate`` FINISH
    lambda: ``acc`` is a lambda variable — bound once, never re-derived."""
    rows = k // bands

    def band_keys_of(sig):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.md5(F.concat_ws("|", F.slice(sig, b * rows + 1, rows))),
        )

    sh = shingles(F.col(text_col), n)
    return _fold_signature(sh, k, family, band_keys_of)


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    k hashes split into ``bands`` bands of k/bands rows; band key =
    md5(concat of the band's hashes). Docs sharing a band key collide.
    One shuffle per plan (posexplode band keys → self-join on band+key);
    see :func:`minhash_band_keys` for why the keys are emitted inside the
    signature fold.

    Hashing parallelism is the INPUT partitioning — a single small
    parquet file would pin all digests to one core. When the scan has
    fewer partitions than cores, fan out first; the extra exchange is a
    few MB of text at test scale and never fires at production scale
    (partitions ≫ cores)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    keys = minhash_band_keys(text_col, k, bands, n, family)
    banded = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(keys).alias("band", "key")
    ).filter(F.col("key").isNotNull())
    # Pairs come from a bucket groupBy + in-bucket combination explode, NOT
    # a self-join: Spark computes each side of a self-join independently
    # (no cross-side CSE), so the join form evaluated the whole signature
    # chain TWICE — the plan showed two ArrowEvalPython / two fold
    # projections and zero ReusedExchange. This shape hashes once and
    # shuffles once. Memory: collect_list holds one bucket's doc ids
    # (8 B/doc — a 1M-doc exact-dup bucket is 8 MB); the quadratic part is
    # the pair OUTPUT, identical in both shapes.
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard over shingle-blocked pairs:
    (id_a, id_b, jaccard) with jaccard ≥ threshold.

    |A∩B| from the shingle join, |A|/|B| from per-doc distinct counts;
    shingles with df > max_shingle_df are pruned from the JOIN only (they
    still count toward |A|, so Jaccard stays exact for pairs that share at
    least one rare shingle).

    CALLER CONTRACT: a pair whose ONLY shared shingles all have df >
    ``max_shingle_df`` is silently dropped — standard meta-blocking; the
    head shingles that would surface it are exactly the ones that make the
    join quadratic. Raise ``max_shingle_df`` (or route such corpora through
    MinHash-LSH, which has no df cap) if boilerplate-heavy near-dups whose
    overlap is entirely head shingles must be recalled."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    ).dropDuplicates(["doc_id", "shingle"])
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # per-shingle doc lists (df-pruned) → in-bucket combination explode:
    # one aggregation, no self-join (a join's two sides are planned
    # independently, so the join form re-ran the shingle explode twice).
    # Bucket lists are bounded by max_shingle_df — collect_list is ≤ df·8 B.
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_shingle_df))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- SimHash (pandas-UDF path) ----------------------------------------------


def simhash64_python(text: str) -> int:
    """64-bit SimHash over whitespace tokens, md5-based bit hashes.

    The per-token 64-bit vote is vectorized (one numpy unpack per doc, no
    per-bit Python loop — the loop version cost ~8k interpreter ops per
    document and dominated the stage)."""
    toks = (text or "").lower().split()
    if not toks:
        return 0
    hs = np.frombuffer(
        b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks),
        dtype=">u8",
    ).astype(np.uint64)
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    out = int(((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return out - (1 << 64) if out >= (1 << 63) else out


@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    return pd.Series([simhash64_python(t) for t in texts])


def simhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    rotations: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs sharing a ``prefix_bits`` window of their
    SimHash in at least one of ``rotations`` bit-rotations, deduped across
    rotations.

    ``rotations=1`` keeps the single top-prefix bucket (the
    DuckDB-oracle-matched contract shape). The production setting is
    ``rotations = 64 // prefix_bits`` (e.g. 4×16): the windows are then
    DISJOINT and cover all 64 bits, so a pair within Hamming distance
    ``rotations − 1`` differs in fewer windows than exist and MUST share a
    clean one — guaranteed recall for d ≤ rotations−1, not probabilistic
    (pytest proves it against brute-force Hamming pairs). Each rotation is
    one bucket join; candidates stay linear in collisions, never all-pairs."""
    hashed = docs.select(
        F.col(id_col).alias("doc_id"), simhash64_udf(F.col(text_col)).alias("simhash")
    )
    step = 64 // max(rotations, 1)

    def bucket(r: int):
        h = F.col("simhash")
        k = (r * step) % 64
        rot = h if k == 0 else F.shiftleft(h, k).bitwiseOR(F.shiftrightunsigned(h, 64 - k))
        return F.struct(F.lit(r).alias("rot"), F.shiftrightunsigned(rot, 64 - prefix_bits).alias("bucket"))

    banded = hashed.select(
        "doc_id", "simhash", F.explode(F.array(*[bucket(r) for r in range(rotations)])).alias("bk")
    ).select("doc_id", "simhash", "bk.rot", "bk.bucket")
    # bucket groupBy + in-bucket combinations, not a self-join — the join
    # form evaluated the SimHash UDF once per side (see minhash_lsh_candidates)
    members = F.sort_array(F.collect_list(F.struct("doc_id", "simhash")))
    buckets = (
        banded.groupBy("rot", "bucket").agg(members.alias("ms")).filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"),
                    y["doc_id"].alias("id_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming_distance"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming_distance")
        .dropDuplicates()
    )


def duplicated_span_fraction(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication profile — per document, the fraction
    of n-gram positions whose n-gram occurs MORE THAN ONCE in the whole
    corpus (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": span-level contamination that document-level dedup
    (d1–d6) cannot see — boilerplate headers, quoted passages, licence
    blocks shared across otherwise-distinct documents, and within-doc
    repetition all count). Returns ``(id_col, n_positions long,
    n_dup_positions long, dup_fraction double)``; documents shorter than
    n tokens are absent (no positions).

    Scale shape: the position→n-gram relation is ONE projection (a
    transform over an index sequence + explode — O(n·T) bytes per
    document, linear, unlike a token-array self-join); the global n-gram
    count is a map-side-combinable aggregate whose result is
    gram-vocabulary-scale; profiling is one shuffle join positions⋈counts
    plus a per-doc conditional aggregate. The suffix-array formulation of
    the paper is pointer-chasing-hostile at cluster scale; fixed-n
    hashed grams is the standard distributed relaxation (what the
    n-gram-decontamination operator t6 also uses).
    """
    from .text_analysis import alpha_tokens

    toks = alpha_tokens(F.col(text_col))
    grams_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs.select(F.col(id_col), F.explode(grams_arr).alias("gram"))
    cnts = pos.groupBy("gram").agg(F.count(F.lit(1)).alias("gcnt"))
    return (
        pos.join(cnts, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.sum((F.col("gcnt") >= 2).cast("long")).alias("n_dup_positions"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_positions") / F.col("n_positions"), 6),
        )
    )
