#!/usr/bin/env python
"""spark-submit entry point: train a BPE merge table over a corpus.

The fifth production job next to build/query/update/curate: the
tokenizer-training pass a pretraining pipeline runs after curation and
before packing —

    word-frequency dictionary (ONE corpus-scale pass, `bpe.word_vocab`)
      → n BPE merges learned vocabulary-scale, `--batch-size` disjoint
        merges per count round (`bpe.train_bpe`)
      → segmented vocabulary under the learned merges — the learner's
        own final symbol table, reused rather than recomputed (per-word
        subtoken arrays, the lookup table per-document tokenization
        joins against)

and writes `<workdir>/merges` (rank, lhs, rhs, pair_count — the
tokenizer artifact, learning-ordered) plus `<workdir>/vocab`
(word, cnt, syms, n_subtokens). Downstream token counting is a
vocabulary join, never a corpus re-segmentation.

Submit shape (the package ships as a zip via --py-files):

    zip -r kg_spark.zip knowledgegraphs_spark/
    spark-submit --master <cluster> --py-files kg_spark.zip \\
        jobs/train_tokenizer.py \\
        --input /data/documents.parquet --workdir /data/tokenizer_out \\
        --n-merges 1000

Input: a documents table with at least a text column. Prints ONE JSON
summary line (vocab size, merges learned, compression ratio
chars→subtokens, seconds) so a scheduler can assert on the run without
scraping logs.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path of the documents table")
    ap.add_argument("--workdir", required=True, help="output root")
    ap.add_argument("--n-merges", type=int, default=200)
    ap.add_argument(
        "--batch-size",
        type=int,
        default=8,
        help="symbol-disjoint merges committed per count round (1 = exact "
        "sequential greedy; production vocabularies want hundreds)",
    )
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--app-name", default="train-tokenizer")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from knowledgegraphs_spark.session import submit_session

    spark = submit_session(args.app_name)

    from knowledgegraphs_spark.operators.bpe import train_bpe

    t0 = time.time()
    docs = spark.read.parquet(args.input).select(args.text_col)
    merges_df, vocab, rounds = train_bpe(
        docs,
        n_merges=args.n_merges,
        text_col=args.text_col,
        batch_size=args.batch_size,
    )
    merges_out = args.workdir.rstrip("/") + "/merges"
    merges_df.write.mode("overwrite").parquet(merges_out)
    n_merges_learned = spark.read.parquet(merges_out).count()

    vocab_out = args.workdir.rstrip("/") + "/vocab"
    vocab.write.mode("overwrite").parquet(vocab_out)

    written = spark.read.parquet(vocab_out)
    stats = written.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("word") * F.col("cnt")).alias("chars"),
        F.sum(F.col("n_subtokens") * F.col("cnt")).alias("subtokens"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "merges": merges_out,
                "vocab": vocab_out,
                "n_merges_learned": n_merges_learned,
                "count_rounds": rounds,
                "n_words": stats["n_words"],
                "corpus_chars": int(stats["chars"] or 0),
                "corpus_subtokens": int(stats["subtokens"] or 0),
                "chars_per_subtoken": round(
                    (stats["chars"] or 0) / max(stats["subtokens"] or 0, 1), 3
                ),
                "seconds": round(time.time() - t0, 1),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
