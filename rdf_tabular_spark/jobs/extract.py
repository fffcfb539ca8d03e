"""spark-submit entry point: pages table → partitioned triple store.

Cluster invocation (north_rule: "run via spark-submit --py-files"):

    ZIP=$(python -c "from rdf_tabular_spark.session import package_zip_path;
                     print(package_zip_path())")
    spark-submit --master <cluster> --py-files "$ZIP" \\
        rdf_tabular_spark/jobs/extract.py \\
        --pages s3://crawl/pages/ --out s3://kg/graph --batch-id 2024-06-01 \\
        [--warc 's3://crawl/segments/*.warc.gz'] [--entity-dict]
        [--no-canonicalize] [--synth N]

Re-running with the same --batch-id is a no-op once the batch manifest is
committed (resume semantics live in sinks/graph_store.py). The opt-in
side outputs (--links, --anchors, --text, --head-meta, --shapes, --fuse,
--reify, --hearst, --disambiguate) each write parquet under a per-batch
directory of --out and add its path to the returned summary; --help says
where.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="pages -> triples -> graph store")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet dir of pages (url, warc_ts, html, text, lang)")
    src.add_argument("--warc", help="WARC archive path/glob (crawl delivery format)")
    src.add_argument("--jsonl", help="JSON-lines pages dump (url, warc_ts, html_b64, text, lang)")
    src.add_argument("--synth", type=int, help="generate N deterministic synthetic pages instead")
    p.add_argument("--out", required=True, help="graph-store root directory")
    p.add_argument("--batch-id", required=True)
    p.add_argument("--entity-dict", action="store_true",
                   help="run stage-2b mention linking with the built-in entity dictionary")
    p.add_argument("--no-canonicalize", action="store_true",
                   help="skip stage-3 MinHash-LSH canonicalization")
    p.add_argument("--incremental-canonical", action="store_true",
                   help="merge this batch's subject mapping into the store's "
                        "persistent canonical map and rewrite with the "
                        "GLOBAL map (cross-batch identity)")
    p.add_argument("--links", action="store_true",
                   help="also extract the hyperlink graph: page-level "
                        "(src, dst) edges and the host-level aggregate as "
                        "parquet side outputs under <out>/links/<batch-id>")
    p.add_argument("--anchors", action="store_true",
                   help="also extract (src, dst, anchor) rows — anchor text "
                        "per link, the external-naming signal for entity "
                        "canonicalization — under <out>/links/<batch-id>/anchors")
    p.add_argument("--text", action="store_true",
                   help="also write the WET-style text-only view "
                        "(url, extracted_text) as parquet under "
                        "<out>/text/<batch-id> — the corpus most LLM "
                        "pipelines consume")
    p.add_argument("--head-meta", action="store_true",
                   help="also extract per-page head metadata (title, "
                        "resolved canonical link, robots directives) and "
                        "the canonical-URL dedup groups under "
                        "<out>/meta/<batch-id>")
    p.add_argument("--respect-noindex", action="store_true",
                   help="emit no triples for pages whose <meta "
                        "name=robots> declares noindex (crawler-"
                        "compliance gate, checked inside the fused parse; "
                        "--head-meta side outputs still audit ALL pages)")
    p.add_argument("--robots", default=None, metavar="PARQUET",
                   help="robots.txt table (host, robots_txt); pages whose "
                        "URL matches a Disallow prefix for agent '*' are "
                        "dropped BEFORE extraction (post-hoc compliance "
                        "re-processing of an already-crawled batch — "
                        "url-projection anti-join, html never shuffles)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--shapes", default=None, metavar="SHAPES.json",
                   help="SHACL-lite quality gate: validate the committed "
                        "batch against the JSON shapes graph and write the "
                        "violation report + per-constraint summary as "
                        "parquet under <out>/shacl/<batch-id>; violation "
                        "counts land in the manifest")
    p.add_argument("--fuse", action="store_true",
                   help="majority-vote fusion of the committed batch: one "
                        "published value per (subj, pred) with vote "
                        "support + conflict cardinality, written as "
                        "parquet under <out>/fused/<batch-id>")
    p.add_argument("--reify", action="store_true",
                   help="RDF-reify the committed batch's statements "
                        "(content-addressed urn:stmt: anchors + 4 "
                        "reification triples each) under "
                        "<out>/reified/<batch-id> — the provenance hook "
                        "later batches attach annotations to")
    p.add_argument("--hearst", action="store_true",
                   help="Hearst-pattern hyponym/hypernym extraction over "
                        "the page text column -> "
                        "<out>/relations/<batch-id> parquet")
    p.add_argument("--hearst-min-docs", type=int, default=2, metavar="N",
                   help="keep extracted pairs supported by >= N distinct "
                        "pages (default 2 — single-page pairs are mostly "
                        "noise, cf. WebIsA's support threshold)")
    p.add_argument("--disambiguate", default=None, metavar="CANDS.parquet",
                   help="context-scored entity disambiguation over the "
                        "page text: candidates parquet (surface, entity, "
                        "context) -> one argmax link per detected mention "
                        "under <out>/mentions/<batch-id>")
    p.add_argument("--compact-after", type=int, default=0, metavar="N",
                   help="after committing this batch, if the store holds "
                        ">= N live batches, compact them into one and "
                        "expire the inputs (Iceberg-style maintenance "
                        "inside the ingestion job)")
    return p


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.appName(f"kg-extract-{args.batch_id}")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true"))
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()

    from rdf_tabular_spark.sources.pages import entity_dictionary, synth_pages
    from rdf_tabular_spark.web import web_pipeline

    if args.synth:
        pages = synth_pages(spark, args.synth)
    elif args.warc:
        from rdf_tabular_spark.sources.warc import read_warc
        pages = read_warc(spark, args.warc)
    elif args.jsonl:
        from rdf_tabular_spark.sources.jsonl import read_pages_jsonl
        pages = read_pages_jsonl(spark, args.jsonl)
    else:
        pages = spark.read.parquet(args.pages)
    if args.robots:
        from rdf_tabular_spark.operators.crawl import (filter_disallowed,
                                                       robots_rules)
        rules = robots_rules(spark.read.parquet(args.robots))
        pages = filter_disallowed(pages, rules)
    manifest = web_pipeline(
        spark, pages, args.out, args.batch_id,
        entity_dict=entity_dictionary() if args.entity_dict else None,
        canonicalize=not args.no_canonicalize,
        incremental_canonical=args.incremental_canonical,
        # compliance is checked INSIDE the fused parse kernel — a page-
        # level pre-filter would cost a second full parse + a semi-join
        respect_noindex=args.respect_noindex)
    if args.links:
        from rdf_tabular_spark.web import host_link_graph, pages_to_links
        links_dir = os.path.join(args.out, "links", args.batch_id)
        links = pages_to_links(pages).persist()
        links.write.mode("overwrite").parquet(
            os.path.join(links_dir, "edges"))
        host_link_graph(links).write.mode("overwrite").parquet(
            os.path.join(links_dir, "hosts"))
        manifest = dict(manifest, n_links=links.count(), links_dir=links_dir)
        links.unpersist()
    if args.anchors:
        from rdf_tabular_spark.web import pages_to_anchors
        anchors_dir = os.path.join(args.out, "links", args.batch_id, "anchors")
        anchors = pages_to_anchors(pages)
        anchors.write.mode("overwrite").parquet(anchors_dir)
        manifest = dict(manifest, anchors_dir=anchors_dir)
    if args.text:
        from rdf_tabular_spark.sources.html_extract import pages_to_text
        text_dir = os.path.join(args.out, "text", args.batch_id)
        pages_to_text(pages).write.mode("overwrite").parquet(text_dir)
        manifest = dict(manifest, text_dir=text_dir)
    if args.head_meta:
        from rdf_tabular_spark.web import canonical_groups, pages_to_head_meta
        meta_dir = os.path.join(args.out, "meta", args.batch_id)
        hm = pages_to_head_meta(pages).persist()
        hm.write.mode("overwrite").parquet(os.path.join(meta_dir, "head"))
        canonical_groups(hm).write.mode("overwrite").parquet(
            os.path.join(meta_dir, "canonical_groups"))
        manifest = dict(manifest, n_head_meta=hm.count(), meta_dir=meta_dir)
        hm.unpersist()
    if args.shapes:
        from rdf_tabular_spark.operators.shacl import (conformance_summary,
                                                       shapes_from_json,
                                                       validate_shapes)
        from rdf_tabular_spark.sinks.graph_store import read_graph
        with open(args.shapes) as fh:
            shapes = shapes_from_json(json.load(fh))
        batch_triples = read_graph(spark, args.out, batches=[args.batch_id])
        report = validate_shapes(batch_triples, shapes).persist()
        shacl_dir = os.path.join(args.out, "shacl", args.batch_id)
        report.write.mode("overwrite").parquet(
            os.path.join(shacl_dir, "report"))
        conformance_summary(report).write.mode("overwrite").parquet(
            os.path.join(shacl_dir, "summary"))
        manifest = dict(manifest, n_shacl_violations=report.count(),
                        shacl_dir=shacl_dir)
        report.unpersist()
    if args.fuse or args.reify:
        from rdf_tabular_spark.operators.fusion import (fuse_majority,
                                                        reify_statements)
        from rdf_tabular_spark.sinks.graph_store import read_graph
        batch_triples = read_graph(spark, args.out, batches=[args.batch_id])
        if args.fuse:
            fused_dir = os.path.join(args.out, "fused", args.batch_id)
            fused = fuse_majority(batch_triples).persist()
            fused.write.mode("overwrite").parquet(fused_dir)
            n_conflicted = fused.filter("n_values > 1").count()
            manifest = dict(manifest, fused_dir=fused_dir,
                            n_fused=fused.count(),
                            n_conflicted_attrs=n_conflicted)
            fused.unpersist()
        if args.reify:
            reified_dir = os.path.join(args.out, "reified", args.batch_id)
            reified = reify_statements(batch_triples)
            reified.write.mode("overwrite").parquet(reified_dir)
            manifest = dict(manifest, reified_dir=reified_dir)
    if args.hearst:
        from pyspark.sql import functions as F
        from rdf_tabular_spark.operators.relations import hearst_pair_counts
        rel_dir = os.path.join(args.out, "relations", args.batch_id)
        pairs = (hearst_pair_counts(pages, text_col="text", id_col="url")
                 .filter(F.col("n_docs") >= args.hearst_min_docs)
                 .persist())
        pairs.write.mode("overwrite").parquet(rel_dir)
        manifest = dict(manifest, relations_dir=rel_dir,
                        n_hearst_pairs=pairs.count())
        pairs.unpersist()
    if args.disambiguate:
        from rdf_tabular_spark.web import disambiguate_mentions
        cands = spark.read.parquet(args.disambiguate)
        mdir = os.path.join(args.out, "mentions", args.batch_id)
        links = disambiguate_mentions(pages, cands, text_col="text",
                                      id_col="url").persist()
        links.write.mode("overwrite").parquet(mdir)
        manifest = dict(manifest, mentions_dir=mdir,
                        n_mentions=links.count())
        links.unpersist()
    if args.compact_after:
        from rdf_tabular_spark.sinks.graph_store import (compact,
                                                         expire_replaced,
                                                         live_batches)
        if len(live_batches(args.out)) >= args.compact_after:
            cm = compact(spark, args.out)
            if cm is not None:
                expire_replaced(spark, args.out)
                manifest = dict(manifest, compacted_into=cm["batch_id"],
                                compaction_n_triples=cm["n_triples"])
    print(json.dumps(manifest))
    return manifest


if __name__ == "__main__":
    main(sys.argv[1:])
