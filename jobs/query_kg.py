#!/usr/bin/env python
"""spark-submit entry point: run a SPARQL query against a built triple store.

The companion to ``jobs/build_kg.py`` — together they are the production
loop: build the bucketed store once, then answer graph questions against
it from any scheduler, shipping the package the same way:

    spark-submit --master <cluster> \\
        --py-files kg_spark.zip \\
        jobs/query_kg.py \\
        --store /data/kg_out/store \\
        --query 'SELECT ?o WHERE { <kg:Conversation_42> <kg:hasTopic> ?o }' \\
        --output /data/answers.parquet

The store opens through ``read_triples`` so the ``_kg_meta`` sidecar's
bucket count reaches the SPARQL compiler — constant-subject patterns
stay partition-pruned point lookups (0.2-0.6 s flat from 200 M to 10 B
triples; BENCH/BASELINE.md). ``--query-file`` reads the query text from
a file for anything a shell line mangles. Results go to ``--output`` as
parquet when given (the cluster path — bindings never move to the
driver); otherwise up to ``--limit`` rows print as JSON lines for quick
inspection. The LAST stdout line is always one JSON summary
(rows, seconds, form) a scheduler can assert on.

SPARQL **Update** operations (INSERT DATA / DELETE DATA / DELETE WHERE /
DELETE-INSERT-WHERE) are detected from the text and applied to the store
in place via ``operators/sparql_update.py`` — bucket-local rewrites, the
production path for store migrations from a scheduler. The summary line
then carries the operation's lineage counters (deleted / inserted /
buckets touched); ``--output`` is rejected (an update has no bindings).

``--entail {rdfs,owl-rl}`` materializes an entailment closure into the
store instead (``operators/entailment.py``) — derived triples append
through the same bucket-pruned set-semantics path updates use, so a
scheduler can close a freshly built store under the chosen ruleset as
one more pipeline step. Idempotent: re-running reports ``inserted: 0``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--store", required=True, help="write_triples store path")
    q = ap.add_mutually_exclusive_group(required=True)
    q.add_argument("--query", help="SPARQL text (SELECT/ASK/CONSTRUCT)")
    q.add_argument("--query-file", help="file containing the SPARQL text")
    q.add_argument("--entail", choices=["rdfs", "owl-rl"],
                   help="materialize an entailment closure into the store "
                        "instead of running a query (bucket-pruned append; "
                        "idempotent — a closed store gains nothing)")
    ap.add_argument("--output", help="parquet path for the bindings "
                                     "(omit to print up to --limit rows)")
    ap.add_argument("--limit", type=int, default=20,
                    help="rows to print when no --output is given")
    ap.add_argument("--app-name", default="kg-query")
    args = ap.parse_args(argv)

    if args.entail:
        if args.output:
            ap.error("--output is not valid for --entail (no bindings)")
        from knowledgegraphs_spark.operators.entailment import materialize_store
        from knowledgegraphs_spark.session import submit_session

        spark = submit_session(args.app_name)
        t0 = time.time()
        stats = materialize_store(spark, args.store, ruleset=args.entail)
        summary = {"store": args.store, "form": "entail", "ruleset": args.entail, **stats}
        summary["seconds"] = round(time.time() - t0, 1)
        print(json.dumps(summary))
        spark.stop()
        return 0

    if args.query_file:
        with open(args.query_file, encoding="utf-8") as f:
            query_text = f.read()
    else:
        query_text = args.query

    import re

    from knowledgegraphs_spark.operators.sparql import sparql_query
    from knowledgegraphs_spark.operators.triples import read_triples
    from knowledgegraphs_spark.session import submit_session

    # form detection: the first keyword after the prologue decides
    # query (SELECT/ASK/CONSTRUCT/DESCRIBE) vs update (INSERT/DELETE)
    body = re.sub(r"(?is)^\s*(?:PREFIX\s+\S+\s+<[^>]*>\s*)*", "", query_text)
    is_update = body.split(None, 1)[0].upper() in ("INSERT", "DELETE") if body.split() else False

    spark = submit_session(args.app_name)

    t0 = time.time()
    if is_update:
        if args.output:
            ap.error("--output is not valid for a SPARQL Update (no bindings)")
        from knowledgegraphs_spark.operators.sparql_update import sparql_update

        stats = sparql_update(spark, args.store, query_text)
        summary = {"store": args.store, "form": "update", **stats}
        summary["seconds"] = round(time.time() - t0, 1)
        print(json.dumps(summary))
        spark.stop()
        return 0
    triples = read_triples(spark, args.store)
    result = sparql_query(triples, query_text)

    summary: dict = {
        "store": args.store,
        "columns": result.columns,
    }
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
        summary["output"] = args.output
        summary["rows"] = spark.read.parquet(args.output).count()
    else:
        head = result.take(args.limit + 1)
        for row in head[: args.limit]:
            print(json.dumps(row.asDict(), default=str))
        if len(head) > args.limit:
            # don't pay a full count for an inspection run
            summary["rows"] = f">{args.limit}"
        else:
            summary["rows"] = len(head)
    summary["seconds"] = round(time.time() - t0, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
