#!/usr/bin/env python
"""spark-submit entry point: maintain a KG store against arriving transcripts.

The third leg of the production loop (build → query → MAINTAIN): point it
at a landing directory where new transcript parquet files arrive and a
maintained store root, and each scheduled run drains the backlog through
the incremental pipeline — structural triples for the new turns, mention
edges attached to the EXISTING entity catalog (stable URIs), declarations
only for entities this batch mints — then stops:

    spark-submit --master <cluster> \\
        --py-files kg_spark.zip \\
        jobs/update_kg.py \\
        --input /data/landing/turns \\
        --store /data/kg_store \\
        --checkpoint /data/kg_store/_checkpoint \\
        --compact

Exactly-once across crash/resubmit comes from the Structured Streaming
checkpoint plus the batch-id-keyed delta overwrites
(``streaming/maintenance.py``: a replayed batch rewrites its own
``batch_id=N`` dirs with the same rows; the files are byte-identical only
when the replay runs in the same JVM, since parquet-mr's footer order can
differ between processes). ``--compact`` folds committed
per-batch delta dirs into the base AFTER the drain — the small-files
lifecycle; safe precisely because ``availableNow`` has stopped the
stream. ``--continuous`` instead keeps the query running until killed
(the always-on deployment; ``--compact`` is refused there).

``--store`` (and ``--checkpoint``) may be any Hadoop FileSystem URI —
a local path, ``file:``, ``hdfs://``, ``s3a://``: batch writes, the
delta listing and the compaction swap all go through the file system
resolved from the store path (``knowledgegraphs_spark/storage.py``).

Prints ONE JSON summary line (triples, catalog entities, batches folded,
seconds) as the LAST stdout line for scheduler assertions.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="landing dir the file stream watches for turn parquet")
    ap.add_argument("--store", required=True, help="maintained store root")
    ap.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (the exactly-once ledger)")
    ap.add_argument("--compact", action="store_true",
                    help="fold committed delta dirs into the base after the drain")
    ap.add_argument("--continuous", action="store_true",
                    help="run until killed instead of drain-and-stop")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--app-name", default="kg-maintain")
    args = ap.parse_args(argv)

    if args.compact and args.continuous:
        ap.error("--compact requires the drain-and-stop mode (it folds "
                 "delta dirs only the stopped stream has committed)")

    from knowledgegraphs_spark.session import submit_session
    from knowledgegraphs_spark.streaming.maintenance import (
        compact_store,
        read_catalog,
        read_maintained_triples,
        stream_kg_maintenance,
    )

    spark = submit_session(args.app_name)

    t0 = time.time()
    query = stream_kg_maintenance(
        spark, args.input, args.store, args.checkpoint,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    query.awaitTermination()

    summary: dict = {"store": args.store}
    if args.compact:
        folded = compact_store(spark, args.store)
        summary["folded_batches"] = folded["folded_batches"]
    summary["triples"] = read_maintained_triples(spark, args.store).count()
    summary["entities"] = (
        read_catalog(spark, args.store).select("canonical").distinct().count()
    )
    summary["seconds"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
