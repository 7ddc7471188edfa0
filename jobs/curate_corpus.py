#!/usr/bin/env python
"""spark-submit entry point: curate a document corpus for training.

The fourth production job next to build/query/update: chains the
training-data operators the engine ships into the standard curation
pass a pretraining pipeline runs between ingestion and packing —

    quality filter (Gopher/C4-style rules, `training_filters.quality_filter`)
      → near-dup clustering (MinHash-LSH candidates → connected
        components, `dedup` d2/d6 machinery)
      → leakage-free train/val split keyed on the CLUSTER id
        (`training_filters.leakage_free_split` — no near-dup family can
        straddle the boundary)

and writes `<workdir>/curated` partitioned by split, keeping cluster_id
so downstream keeper-selection / per-family sampling stays possible.

Submit shape (the package ships as a zip via --py-files, deployment
knobs belong to the submit command):

    zip -r kg_spark.zip knowledgegraphs_spark/
    spark-submit --master <cluster> --py-files kg_spark.zip \\
        jobs/curate_corpus.py \\
        --input /data/documents.parquet --workdir /data/curated_out \\
        --val-frac 0.1

Input: a documents table with at least ``(doc_id, text)``. Prints ONE
JSON summary line (counts per stage, reject reasons, split sizes,
seconds) so a scheduler can assert on the run without scraping logs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path of the documents table")
    ap.add_argument("--workdir", required=True, help="output root")
    ap.add_argument("--val-frac", type=float, default=0.1)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--no-quality-filter", action="store_true",
                    help="skip the rule-based quality pass")
    ap.add_argument("--minhash-k", type=int, default=16)
    ap.add_argument("--minhash-bands", type=int, default=4)
    ap.add_argument("--app-name", default="corpus-curate")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from knowledgegraphs_spark.session import submit_session

    spark = submit_session(args.app_name)

    from knowledgegraphs_spark.config import EngineConfig
    from knowledgegraphs_spark.operators.canonicalize import connected_components
    from knowledgegraphs_spark.operators.dedup import minhash_lsh_candidates
    from knowledgegraphs_spark.operators.training_filters import (
        leakage_free_split,
        quality_filter,
    )

    t0 = time.time()
    docs = spark.read.parquet(args.input).select(args.id_col, args.text_col)
    summary: dict = {"workdir": args.workdir, "n_input": docs.count()}

    if not args.no_quality_filter:
        verdicts = quality_filter(docs, text_col=args.text_col)
        rejects = {
            r["reject_reason"]: r["n"]
            for r in verdicts.where(~F.col("keep"))
            .groupBy("reject_reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        docs = verdicts.where(F.col("keep")).select(args.id_col, args.text_col)
        summary["reject_reasons"] = dict(sorted(rejects.items()))
        summary["n_kept"] = docs.count()

    pairs = minhash_lsh_candidates(
        docs.select(F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")),
        k=args.minhash_k, bands=args.minhash_bands,
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        EngineConfig(),
    )
    clustered = (
        docs.join(comp, docs[args.id_col] == comp["node"], "left")
        .select(
            args.id_col, args.text_col,
            F.coalesce("component", F.col(args.id_col)).alias("cluster_id"),
        )
    )
    split = leakage_free_split(
        clustered, val_frac=args.val_frac, id_col=args.id_col,
        keep_cols=(args.text_col,),
    )

    out = args.workdir.rstrip("/") + "/curated"
    split.write.mode("overwrite").partitionBy("split").parquet(out)

    written = spark.read.parquet(out)
    sizes = {
        r["split"]: r["n"]
        for r in written.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_multi = (
        written.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2).count()
    )
    summary.update(
        curated=out,
        split_sizes=dict(sorted(sizes.items())),
        n_multi_doc_clusters=n_multi,
        seconds=round(time.time() - t0, 1),
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
