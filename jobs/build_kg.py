#!/usr/bin/env python
"""spark-submit entry point: build the KG triple store from a transcript table.

The production submit shape the north rule names — the package ships as a
zip via ``--py-files`` (no repo checkout on the cluster), deployment knobs
(master, executor count/memory, shuffle partitions) come from the submit
command, and the job script stays a thin argument-parse + plan-compose:

    zip -r kg_spark.zip knowledgegraphs_spark/
    spark-submit --master <cluster> \\
        --py-files kg_spark.zip \\
        jobs/build_kg.py \\
        --input  /data/transcripts.parquet \\
        --workdir /data/kg_out \\
        --mode full --store-buckets 64

Input: a table of multi-turn transcripts with columns
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — a parquet path (``--input``) or a catalog table name
(``--table``, e.g. an Iceberg table when the runtime ships a catalog; see
tests/test_catalog.py for the sandbox scope-out).

Modes:
- ``structural``: per-turn row-to-triple emission only (shuffle-free
  scan → explode), bucketed store written to ``<workdir>/store``.
- ``full``: the manifest'd resumable pipeline (plans/pipeline.py:
  mentions → match edges → canonicalization → triples + entity catalog,
  each stage fingerprinted and checkpointed under ``<workdir>``; a
  re-submit after a crash skips completed stages).

``--workdir`` may be any Hadoop FileSystem URI — a local path, ``file:``,
``hdfs://``, ``s3a://``: the stage outputs, the ``_manifest.json`` resume
manifest and the ``_SUCCESS`` checks all go through the file system
resolved from it (``knowledgegraphs_spark/storage.py``), so resume works
on every scheme.

Prints ONE JSON summary line (rows, stages ran/skipped, seconds) so a
workflow scheduler can assert on the run without scraping logs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of the transcripts table")
    src.add_argument("--table", help="catalog table name (e.g. an Iceberg table)")
    ap.add_argument("--workdir", required=True, help="output/checkpoint root")
    ap.add_argument("--mode", choices=["full", "structural"], default="full")
    ap.add_argument("--store-buckets", type=int, default=None,
                    help="subj-hash buckets for the structural store "
                         "(default: spark.sql.shuffle.partitions)")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore an existing checkpoint manifest and rebuild")
    ap.add_argument("--app-name", default="kg-build")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # engine-required analytics confs only — master, memory, executor
    # topology and shuffle parallelism belong to the submit command
    from knowledgegraphs_spark.session import ENGINE_SQL_CONFS

    builder = SparkSession.builder.appName(args.app_name)
    for k, v in ENGINE_SQL_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    t0 = time.time()
    turns = spark.table(args.table) if args.table else spark.read.parquet(args.input)

    summary: dict = {"mode": args.mode, "workdir": args.workdir}
    if args.mode == "structural":
        from knowledgegraphs_spark.operators.po_extraction import transcript_po
        from knowledgegraphs_spark.operators.triples import emit_transcript_triples
        from knowledgegraphs_spark.sources.transcripts import ingest
        from knowledgegraphs_spark.operators.triples import write_triples

        triples = emit_transcript_triples(ingest(turns, None), transcript_po())
        store = args.workdir.rstrip("/") + "/store"
        n_buckets = args.store_buckets or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        # map-side bucketed write: no exchange, store stays point-lookup
        # prunable on subj_bucket (operators/triples.py:write_triples)
        write_triples(triples, store, n_buckets=n_buckets, coalesce_buckets=False)
        summary["store"] = store
        summary["triples"] = spark.read.parquet(store).count()
    else:
        from knowledgegraphs_spark.plans.pipeline import run_pipeline

        fp = args.table or args.input
        res = run_pipeline(
            spark, turns, args.workdir,
            input_fingerprint=fp, resume=not args.no_resume,
        )
        summary["triples"] = res.triples.count()
        summary["entities"] = res.entities.count()
        summary["stages_ran"] = res.stats["ran"]
        summary["stages_skipped"] = res.stats["skipped"]
    summary["seconds"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
