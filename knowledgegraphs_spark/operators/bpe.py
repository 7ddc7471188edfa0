"""Distributed BPE merge learning over the corpus word vocabulary.

Byte-pair-encoding vocabularies are trained exactly the way Sennrich et
al. (2016) describe: NOT over the corpus token stream, but over the
**word-frequency dictionary** — the distinct-word table with counts.
That is what makes BPE training tractable at 100 TB in Spark:

1. ONE corpus-scale pass builds the vocabulary (``groupBy(word).sum``,
   map-side combined). Everything after is vocabulary-scale — millions
   of rows, not trillions of tokens.
2. Per merge iteration, adjacent symbol pairs are exploded from the
   vocab's symbol arrays (≤ avg word length × |vocab| rows), counted
   with a map-side-combined ``groupBy(l, r)``, and the argmax pair —
   ONE row — comes to the driver (driver-scale by definition, the same
   gated pattern as connected-components' convergence scalar).
3. The merge is applied as a pure-Catalyst ``aggregate`` fold over each
   word's symbol array (greedy left-to-right, the standard BPE
   application order), and the vocab is ``localCheckpoint``-ed so the
   plan stays flat across iterations instead of nesting K lambda
   layers.

Determinism: ties on pair count break on ``(l, r)`` lexicographic
ascending — a total order, so the learned merge table is a pure
function of the corpus. Tokenization matches the engine's unigram-LM
vocabulary unit (``text_analysis.alpha_tokens``: lowercased a–z runs).

The reference has no tokenizer-training stage (single-machine, no
training-data emission); this sits in the engine's training-pipeline
surface next to ``packing.py`` and ``text_analysis.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import driver_frame
from .text_analysis import alpha_tokens

__all__ = ["word_vocab", "learn_bpe_merges", "train_bpe", "apply_merge", "segment_vocab"]


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency dictionary: ``(word, cnt, syms)`` with
    ``syms`` the initial character-level symbol array. The single
    corpus-scale step of BPE training."""
    words = docs.select(F.explode(alpha_tokens(F.col(text_col))).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.filter(F.split(F.col("word"), ""), lambda c: c != ""))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Naive adjacent-pair statistics weighted by word count — the
    Sennrich counting rule (overlapping occurrences all count; the
    greedy application below is what resolves overlaps)."""
    # guard single-symbol words: sequence(1, 0) would generate a DESCENDING
    # [1, 0] (Spark infers step -1), not an empty list
    pairs = vocab.select(
        "cnt",
        F.explode(
            F.expr(
                "CASE WHEN size(syms) >= 2 THEN"
                " transform(sequence(1, size(syms) - 1),"
                "           i -> struct(syms[i - 1] AS l, syms[i] AS r))"
                " ELSE CAST(array() AS array<struct<l: string, r: string>>) END"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.l", "p.r").agg(F.sum("cnt").alias("pair_count"))


def apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge ``(left, right)`` to
    a symbol array, as a codegen'd ``aggregate`` fold: if the
    accumulator's last symbol is ``left`` and the next is ``right``,
    they fuse — and the fused symbol immediately participates in the
    next comparison (so ``aaaa`` under ``(a,a)`` → ``[aa, aa]``)."""
    lit_l, lit_r = F.lit(left), F.lit(right)
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lit_l)
            & (x == lit_r),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _train(
    docs: DataFrame, n_merges: int, text_col: str, batch_size: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame, int]:
    """Shared learner: returns (merge list, final merged vocab, rounds).

    With ``batch_size > 1`` each round walks the over-fetched top-pair
    ranking in order, greedily selecting up to ``batch_size``
    pairwise symbol-disjoint pairs (overlapping pairs are skipped and
    re-counted next round), and applies the selection in one chained
    fold — the standard distributed-BPE batching. Disjoint pairs have
    invariant counts under each other's application, so every committed
    count is EXACT given its batch-mates; the batch can deviate from
    strict sequential greedy only in merge ORDER, when a skipped
    overlapping pair (stale count) or a brand-new pair created by a
    batch member's fused symbol would have outranked a later member —
    bounded drift the literature accepts, and zero for fully
    symbol-disjoint greedy chains, which is what the equality tests
    pin. ``batch_size=1`` is the exact sequential path (the oracle
    twin)."""
    if n_merges <= 0:
        raise ValueError(f"learn_bpe_merges: n_merges must be positive, got {n_merges}")
    if batch_size < 1:
        raise ValueError(f"learn_bpe_merges: batch_size must be >= 1, got {batch_size}")
    vocab = word_vocab(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        # driver-scale argmax: a small multiple of batch_size rows cross
        # the boundary (the over-fetch gives the disjointness filter
        # room; pairs skipped here are re-counted next round)
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(max(8 * want, want))
            .collect()
        )
        rounds += 1
        if not top:
            break
        used: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for row in top:
            if len(batch) >= want:
                break
            l, r = row["l"], row["r"]
            # SKIP pairs overlapping an already-selected one (their counts
            # go stale the moment that merge lands) and keep scanning:
            # every selected pair's count is exact given the others, since
            # disjoint merges cannot change each other's adjacencies
            if l in used or r in used:
                continue
            batch.append((l, r, int(row["pair_count"])))
            used.update((l, r))
        for l, r, cnt in batch:
            merges.append((len(merges), l, r, cnt))
        col = F.col("syms")
        for l, r, _ in batch:
            col = apply_merge(col, l, r)
        vocab = vocab.withColumn("syms", col).localCheckpoint(eager=True)
    return merges, vocab, rounds


def learn_bpe_merges(
    docs: DataFrame, n_merges: int = 25, text_col: str = "text", batch_size: int = 1
) -> DataFrame:
    """Learn the top-``n_merges`` BPE merges: ``(rank, lhs, rhs,
    pair_count)`` in learning order. Each round's pair statistics see
    all previous rounds' merges applied (the defining property of BPE —
    counts at step k are over the step-k symbol sequences, not the raw
    chars). ``batch_size`` bounds how many symbol-disjoint merges one
    round may commit (see :func:`_train`); the default 1 is exact
    sequential greedy. A production tokenizer run (30-50k merges) should
    pass ``batch_size`` in the hundreds — rounds, and therefore driver
    round-trips, shrink ~batch_size-fold."""
    merges, _, _ = _train(docs, n_merges, text_col, batch_size)
    return driver_frame(
        docs.sparkSession, merges, "rank int, lhs string, rhs string, pair_count bigint"
    )


def train_bpe(
    docs: DataFrame, n_merges: int = 25, text_col: str = "text", batch_size: int = 1
) -> tuple[DataFrame, DataFrame, int]:
    """Train merges AND return the segmented vocabulary in one corpus
    pass: ``(merges_df, vocab_df, rounds)``. The learner's final vocab
    already carries every merge applied, so callers that need both (the
    tokenizer job) get the segmented table for free instead of
    re-running ``word_vocab`` + ``segment_vocab`` — one corpus-scale
    scan total. ``rounds`` is the number of count→argmax→fold rounds
    actually executed (the batching win, surfaced for assertions)."""
    merges, vocab, rounds = _train(docs, n_merges, text_col, batch_size)
    merges_df = driver_frame(
        docs.sparkSession, merges, "rank int, lhs string, rhs string, pair_count bigint"
    )
    return merges_df, vocab.withColumn("n_subtokens", F.size("syms")), rounds


def segment_vocab(vocab: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply an ordered merge list to the vocabulary's symbol arrays —
    BPE tokenization of every distinct word. Plans one fold per merge,
    checkpointing every 8 to keep the expression tree flat; per-doc BPE
    token counts then come from joining documents' words against this
    vocabulary-scale table (never re-segmenting the corpus)."""
    out = vocab
    for i, (l, r) in enumerate(merges):
        out = out.withColumn("syms", apply_merge(F.col("syms"), l, r))
        if (i + 1) % 8 == 0:
            out = out.localCheckpoint(eager=True)
    return out.withColumn("n_subtokens", F.size("syms"))
