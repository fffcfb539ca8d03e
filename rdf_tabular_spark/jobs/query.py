"""spark-submit entry point: SPARQL-style queries against a graph store.

The read-side companion of jobs/extract.py — a user who materialized a
store queries it from the same cluster tooling:

    ZIP=$(python -c "from rdf_tabular_spark.session import package_zip_path;
                     print(package_zip_path())")
    spark-submit --master <cluster> --py-files "$ZIP" \\
        rdf_tabular_spark/jobs/query.py --store s3://kg/graph \\
        --bgp '?d <http://schema.org/name> ?n . ?d <http://schema.org/inLanguage> ?l' \\
        [--optional '?d <http://schema.org/wordCount> ?w'] \\
        [--minus '...'] [--filter "l = 'en'"] [--distinct] \\
        [--as-of 2024-06-01T00:00:00] [--out s3://results/q1] [--show N]

    ... --path 'mentions/<http://schema.org/name>' ...   # property path
    ... --values '{"columns": ["l"], "rows": [["en"], ["fr"]]}' \
        --bind 'n_len=length(n)' --exists '?d <voc#wordCount> ?w' ...
    ... --infer-rdfs --derive-batch-id rdfs-2024-06-01   # RDFS entailment
    ... --diff-since 2024-06-01T00:00:00   # statements added/removed since
    ... --bgp '...' --construct '?s <voc#label> ?n' \
        --derive-batch-id rule-2024-06-01 --rule-id name-label   # CONSTRUCT
        # without --derive-batch-id the derived triples go to --out/stdout

Pattern syntax: triple patterns separated by ' . ' (SPARQL group shape);
terms are '?var', '<IRI>' (angle brackets stripped), or a bare token.
Constant-predicate patterns read partition-pruned via
sinks/graph_store.bgp_match_store; --as-of time-travels to the batches
committed at or before that ISO timestamp. Without --out, prints a result
count plus the first --show rows as one JSON line (driver-side sample
only — the query itself runs distributed).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_patterns(text: str) -> list[tuple]:
    """' . '-separated patterns; '<IRI>' brackets are stripped so IRIs
    with any characters work, bare tokens and ?vars pass through. 3 terms
    = a triple pattern; 4 terms = a GRAPH quad (graph subj pred obj) whose
    graph position binds the statement's source document (table_url)."""
    pats = []
    for part in text.split(" . "):
        terms = part.split()
        if len(terms) not in (3, 4):
            raise ValueError(
                f"pattern {part!r} must have 3 terms (subj pred obj) or 4 "
                f"(graph subj pred obj), got {len(terms)}")
        pats.append(tuple(
            t[1:-1] if t.startswith("<") and t.endswith(">") else t
            for t in terms))
    return pats


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="query a triple graph store")
    p.add_argument("--store", required=True, help="graph-store root")
    kind = p.add_mutually_exclusive_group(required=True)
    kind.add_argument("--update", help="SPARQL UPDATE string (INSERT/"
                      "DELETE DATA, DELETE WHERE, INSERT/DELETE {t} "
                      "WHERE {p}); requires --derive-batch-id")
    kind.add_argument("--sparql", help="full SPARQL query string "
                      "(SELECT/ASK/CONSTRUCT; see rdf_tabular_spark/"
                      "sparql.py for the supported subset)")
    kind.add_argument("--bgp", help="triple patterns, ' . '-separated")
    kind.add_argument("--path", help="property-path expression "
                                     "(operators/paths grammar)")
    kind.add_argument("--infer-owl", action="store_true",
                      help="materialize pD* property rules (inverseOf/"
                           "Symmetric/Transitive) as a derived batch")
    kind.add_argument("--refresh-rules", action="store_true",
                      help="re-derive rule batches whose data inputs "
                           "changed (incremental view maintenance)")
    kind.add_argument("--merge-sameas", action="store_true",
                      help="fold owl:sameAs statements into the global "
                           "canonical map (no batch rewrite)")
    kind.add_argument("--fuse-majority", action="store_true",
                      help="truth-discovery maintenance: retract every "
                           "assertion losing its (subj, pred) majority "
                           "vote (requires --derive-batch-id)")
    kind.add_argument("--diff-since", default=None, metavar="TIME",
                      help="time-travel delta: statements added/removed "
                           "between TIME and --as-of (default: now) — one "
                           "row per change with a 'change' column; feeds "
                           "incremental downstream syncs without a full "
                           "re-export")
    kind.add_argument("--infer-rdfs", action="store_true",
                      help="materialize RDFS entailment (rules rdfs2/3/5/"
                           "7/9/11) over the store; commits as a rule "
                           "batch via --derive-batch-id")
    p.add_argument("--term-graph", action="store_true",
                   help="render objects to N-Triples term shape before "
                        "the SPARQL query (rdfio/terms.py) — unlocks "
                        "LANG/DATATYPE/LANGMATCHES/STRLANG/STRDT and "
                        "exact sameTerm over the store's term columns")
    p.add_argument("--optional", action="append", default=[],
                   help="OPTIONAL pattern group (repeatable)")
    p.add_argument("--values", default=None, metavar="JSON",
                   help='SPARQL VALUES inline data: '
                        '{"columns": ["l"], "rows": [["en"], ["fr"]]}')
    p.add_argument("--exists", action="append", default=[],
                   help="FILTER EXISTS pattern group (repeatable)")
    p.add_argument("--minus", action="append", default=[],
                   help="MINUS pattern group (repeatable)")
    p.add_argument("--bind", action="append", default=[],
                   metavar="VAR=EXPR",
                   help="BIND a computed variable (repeatable, in order)")
    p.add_argument("--filter", action="append", default=[],
                   help="FILTER expression over variables (repeatable)")
    p.add_argument("--distinct", action="store_true")
    p.add_argument("--ask", action="store_true",
                   help="SPARQL ASK: print {\"ask\": true|false} instead "
                        "of bindings (early-out, no full evaluation)")
    p.add_argument("--construct", default=None, metavar="TEMPLATE",
                   help="CONSTRUCT template patterns (' . '-separated); "
                        "with --derive-batch-id the derived triples commit "
                        "back into the store as a rule batch")
    p.add_argument("--derive-batch-id", default=None)
    p.add_argument("--rule-id", default="construct")
    p.add_argument("--as-of", default=None,
                   help="time-travel: batches committed at or before this "
                        "ISO-8601 instant")
    p.add_argument("--order-by", default=None, metavar="VAR[:desc]",
                   help="sort bindings before --limit/--show (TakeOrdered "
                        "when combined with --limit — no full sort)")
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--out", default=None, help="write results as parquet")
    p.add_argument("--show", type=int, default=10,
                   help="rows to sample into the JSON summary (no --out)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.appName("kg-query")
         .config("spark.sql.adaptive.enabled", "true"))
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions",
                     str(args.shuffle_partitions))
    spark = b.getOrCreate()
    from rdf_tabular_spark.session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    from rdf_tabular_spark.sinks.graph_store import (bgp_match_store,
                                                     read_graph,
                                                     snapshots_as_of)

    batches = snapshots_as_of(args.store, args.as_of) if args.as_of else None

    if args.term_graph and not args.sparql:
        # only the --sparql compiler understands rendered terms; silently
        # matching a rendered graph with lexical --bgp/--path/--construct
        # patterns would return wrong (usually empty) results
        raise SystemExit("--term-graph requires --sparql")

    if args.diff_since:
        import time as _time
        from pyspark.sql import functions as F
        from rdf_tabular_spark.sinks.graph_store import diff_snapshots
        to = args.as_of or _time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          _time.gmtime())
        diff = diff_snapshots(spark, args.store, args.diff_since, to)
        if args.out:
            diff.write.mode("overwrite").parquet(args.out)
            summary = {"from": args.diff_since, "to": to, "out": args.out,
                       "n_changes": spark.read.parquet(args.out).count()}
        else:
            by = {r["change"]: r["n"] for r in
                  diff.groupBy("change").agg(F.count("*").alias("n"))
                  .collect()}
            summary = {"from": args.diff_since, "to": to,
                       "added": by.get("added", 0),
                       "removed": by.get("removed", 0),
                       "sample": [r.asDict() for r in
                                  diff.limit(args.show).collect()]}
        print(json.dumps(summary))
        return summary

    algebra: dict = {}
    if args.values:
        v = json.loads(args.values)
        algebra["values"] = (list(v["columns"]),
                             [tuple(r) for r in v["rows"]])
    if args.exists:
        algebra["exists"] = [parse_patterns(t) for t in args.exists]
    if args.bind:
        algebra["binds"] = [tuple(x.split("=", 1)) for x in args.bind]

    if args.infer_rdfs:
        if not args.derive_batch_id:
            raise SystemExit("--infer-rdfs requires --derive-batch-id")
        from rdf_tabular_spark.sinks.graph_store import infer_rdfs_batch
        manifest = infer_rdfs_batch(spark, args.store,
                                    args.derive_batch_id, batches=batches)
        print(json.dumps(manifest))
        return manifest
    if args.infer_owl:
        if not args.derive_batch_id:
            raise SystemExit("--infer-owl requires --derive-batch-id")
        from rdf_tabular_spark.sinks.graph_store import infer_owl_batch
        manifest = infer_owl_batch(spark, args.store,
                                   args.derive_batch_id, batches=batches)
        print(json.dumps(manifest))
        return manifest
    if args.refresh_rules:
        from rdf_tabular_spark.sinks.graph_store import refresh_rule_batches
        manifests = refresh_rule_batches(spark, args.store)
        summary = {"refreshed": [m["batch_id"] for m in manifests
                                 if "skipped" not in m],
                   "skipped": [m["batch_id"] for m in manifests
                               if "skipped" in m]}
        print(json.dumps(summary))
        return summary
    if args.fuse_majority:
        if not args.derive_batch_id:
            raise SystemExit("--fuse-majority requires --derive-batch-id")
        from rdf_tabular_spark.sinks.graph_store import fuse_retract_batch
        manifest = fuse_retract_batch(spark, args.store,
                                      args.derive_batch_id, batches=batches)
        print(json.dumps(manifest))
        return manifest
    if args.merge_sameas:
        if not args.derive_batch_id:
            raise SystemExit("--merge-sameas requires --derive-batch-id")
        from rdf_tabular_spark.sinks.graph_store import update_sameas_map
        manifest = update_sameas_map(spark, args.store,
                                     args.derive_batch_id, batches=batches)
        print(json.dumps(manifest))
        return manifest
    if args.update:
        if not args.derive_batch_id:
            raise SystemExit("--update requires --derive-batch-id")
        from rdf_tabular_spark.sinks.graph_store import update_store
        manifest = update_store(spark, args.store, args.derive_batch_id,
                                args.update)
        print(json.dumps(manifest))
        return manifest
    if args.sparql:
        from pyspark.sql import functions as F

        from rdf_tabular_spark.sparql import parse_sparql, query_df
        g = read_graph(spark, args.store, batches=batches)
        if args.term_graph:
            from rdf_tabular_spark.rdfio.terms import render_object_terms
            g = render_object_terms(g)
        triples = g.select(
            F.col("table_url").alias("graph"), "subj", "pred", "obj")
        result = query_df(
            triples, parse_sparql(args.sparql,
                                  term_graph=args.term_graph))
        if isinstance(result, bool):
            summary = {"ask": result}
            print(json.dumps(summary))
            return summary
    elif args.construct:
        if not args.bgp:
            raise SystemExit("--construct requires --bgp WHERE patterns")
        from rdf_tabular_spark.sinks.graph_store import derive_batch
        if args.derive_batch_id:
            manifest = derive_batch(
                spark, args.store, parse_patterns(args.bgp),
                parse_patterns(args.construct), args.derive_batch_id,
                rule_id=args.rule_id, batches=batches,
                optionals=[parse_patterns(t) for t in args.optional],
                minus=[parse_patterns(t) for t in args.minus],
                filters=args.filter, **algebra)
            print(json.dumps(manifest))
            return manifest
        from rdf_tabular_spark.operators.bgp import construct
        triples3 = read_graph(spark, args.store, batches=batches) \
            .select("subj", "pred", "obj")
        result = construct(
            triples3, parse_patterns(args.bgp),
            parse_patterns(args.construct),
            optionals=[parse_patterns(t) for t in args.optional],
            minus=[parse_patterns(t) for t in args.minus],
            filters=args.filter, **algebra)
    elif args.bgp:
        result = bgp_match_store(
            spark, args.store, parse_patterns(args.bgp),
            batches=batches,
            optionals=[parse_patterns(t) for t in args.optional],
            minus=[parse_patterns(t) for t in args.minus],
            filters=args.filter, distinct=args.distinct, **algebra)
    else:
        from rdf_tabular_spark.operators.paths import path_match
        triples = read_graph(spark, args.store, batches=batches) \
            .select("subj", "pred", "obj")
        result = path_match(triples, args.path)
        if args.distinct:
            result = result.distinct()

    if args.ask:
        summary = {"ask": not result.isEmpty()}
        print(json.dumps(summary))
        return summary
    if args.order_by:
        col, _, direction = args.order_by.partition(":")
        from pyspark.sql import functions as F
        result = result.orderBy(
            F.col(col).desc() if direction == "desc" else F.col(col))
    if args.limit is not None:
        result = result.limit(args.limit)
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        summary = {"n_rows": spark.read.parquet(args.out).count(),
                   "columns": result.columns, "out": args.out}
    else:
        sample = [r.asDict() for r in result.limit(args.show).collect()]
        summary = {"n_rows": result.count(), "columns": result.columns,
                   "sample": sample}
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
