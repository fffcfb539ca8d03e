"""Structured Streaming ingest: incremental pages → triples.

The reference is strictly batch (SURVEY.md §2.7: no streaming anywhere in
lib/); this is the Spark-native generalization for a continuously-crawled
corpus: new page files land in the input directory (the streaming face of
an Iceberg append), each micro-batch runs the SAME stage-1+2 Arrow kernel
as the batch path — ``stream_pages_to_store`` the fused
``web.pages_to_combined_triples`` that ``web_pipeline`` runs,
``stream_pages_to_triples`` its CSVW-table facet ``web.pages_to_triples``
(mapInPandas is streaming-compatible because it is stateless per batch) —
and the sink checkpoints progress so a crashed or re-run job resumes
exactly where it left off without reprocessing (file-source + checkpoint =
exactly-once file accounting; complements the batch layer's per-batch
manifests in sinks/graph_store.py).

``Trigger.AvailableNow`` drains everything pending then stops — the
cron-style incremental-batch mode a 10^12-doc pipeline actually runs
(continuous triggers hold executors hostage between crawl drops).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """File-source stream over a pages directory (url, warc_ts, html, text,
    lang). ``maxFilesPerTrigger`` bounds micro-batch size so one giant crawl
    drop cannot blow executor memory."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_pages_to_triples(spark: SparkSession, input_dir: str, out_dir: str,
                            checkpoint_dir: str,
                            default_meta: Optional[dict] = None,
                            available_now: bool = True,
                            max_files_per_trigger: Optional[int] = None):
    """pages stream → triples parquet, checkpointed. Returns the query.

    The transformation is identical to the batch path (one narrow Arrow
    stage, no shuffle), so the streaming plan is just: file scan →
    mapInPandas → file sink. Resume = re-run with the same checkpoint dir.
    """
    from ..web import pages_to_triples
    pages = read_page_stream(spark, input_dir, max_files_per_trigger)
    triples = pages_to_triples(pages, default_meta=default_meta)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def triples_rate_per_host(spark: SparkSession, input_dir: str, out_dir: str,
                          checkpoint_dir: str,
                          default_meta: Optional[dict] = None,
                          window: str = "1 minute",
                          watermark: str = "10 minutes",
                          available_now: bool = True):
    """Watermarked windowed aggregation: triples/min per host keyed on the
    page's WARC capture time — the late-data-tolerant ops metric stream.

    One shuffle on (window, host); state is bounded by the watermark, so
    this runs indefinitely at constant memory per key — the Structured
    Streaming answer to the north rule's per-partition metrics requirement.
    """
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)
    from ..sources.html_extract import map_pages
    from ..web import _default_meta_json, _emit_table_triples
    pages = read_page_stream(spark, input_dir)
    meta_json = _default_meta_json(default_meta, True)

    counts_schema = StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("n_triples", LongType(), False),
    ])
    # per-page triple counts computed in-kernel: no stream-stream join,
    # no triple rows shuffled — only (url, ts, count) reaches the agg
    counts = map_pages(pages, counts_schema, lambda row, page: [
        (row.url, row.warc_ts,
         len(_emit_table_triples(page, row.url, meta_json, True, 1)))])
    host = F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1)
    agg = (counts.withColumn("host", host)
           .withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window), F.col("host"))
           .agg(F.sum("n_triples").alias("n_triples"))
           .select(F.col("window.start").alias("window_start"),
                   "host", "n_triples"))
    writer = (agg.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ntriples_to_store(spark: SparkSession, input_dir: str,
                             store_root: str, checkpoint_dir: str,
                             available_now: bool = True,
                             strict: bool = False,
                             batch_prefix: str = "stream"):
    """Streaming RDF ingest with END-TO-END exactly-once: .nt files land
    in ``input_dir``, each micro-batch parses through the shared Arrow
    kernel (sources/ntriples_source.nt_lines_kernel) and commits into the
    graph store via ``materialize`` under the deterministic batch id
    ``{batch_prefix}-{epoch:08d}``.

    Exactly-once composition: the file source + checkpoint guarantee each
    input file belongs to exactly one epoch, and a crash-replayed epoch
    re-runs with the SAME epoch id — which materialize's manifest commit
    turns into a no-op (sinks/graph_store.py idempotence). foreachBatch
    alone is at-least-once; the manifest makes the sink idempotent, which
    is the standard recipe for exactly-once foreachBatch sinks.
    """
    from ..operators.triples import TRIPLE_SCHEMA
    from ..session import ensure_package_on_executors
    from ..sinks.graph_store import materialize
    from ..sources.ntriples_source import nt_lines_kernel
    ensure_package_on_executors(spark)
    triples = (spark.readStream.text(input_dir)
               .mapInPandas(nt_lines_kernel(strict), schema=TRIPLE_SCHEMA))

    def commit(batch_df, epoch_id: int) -> None:
        materialize(batch_df, store_root,
                    f"{batch_prefix}-{epoch_id:08d}",
                    lineage={"source": "stream", "input_dir": input_dir,
                             "epoch": epoch_id})

    writer = (triples.writeStream
              .foreachBatch(commit)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_pages_to_store(spark: SparkSession, input_dir: str,
                          store_root: str, checkpoint_dir: str,
                          default_meta: Optional[dict] = None,
                          entity_dict: Optional[dict] = None,
                          available_now: bool = True,
                          max_files_per_trigger: Optional[int] = None,
                          batch_prefix: str = "crawl",
                          respect_noindex: bool = False):
    """Continuous KG construction: crawled pages land in ``input_dir``,
    each micro-batch runs stages 1-2 and commits into the graph store
    under the deterministic id ``{batch_prefix}-{epoch:08d}``.

    Stages 1-2 are identical to the batch path (``web_pipeline``): the
    fused kernel ``web.pages_to_combined_triples`` (tables, microdata,
    JSON-LD and RDFa from one parse of each page, robots-noindex pages
    dropped inside that parse when ``respect_noindex``) and, with
    ``entity_dict``, broadcast entity linking inside that pass
    (``web.link_entities`` with ``keep_input=True``): one page parse per
    micro-batch, all narrow.

    Exactly-once by the same composition as
    :func:`stream_ntriples_to_store`: file-source checkpoint assigns each
    input file to one epoch, replays reuse the epoch id, and
    ``materialize``'s manifest commit makes the re-run a no-op. Stage 3
    (canonicalization) is deliberately NOT in the per-batch path — it is
    cross-batch by nature; run ``update_sameas_map`` /
    ``canonicalize_subjects``-derived map merges as periodic maintenance
    (sinks/graph_store.merge_mappings), the lambda-architecture split the
    north_rule's checkpoint/lineage design anticipates."""
    from ..sinks.graph_store import materialize
    from ..web import link_entities, pages_to_combined_triples
    pages = read_page_stream(spark, input_dir, max_files_per_trigger)
    triples = pages_to_combined_triples(pages, default_meta=default_meta,
                                        respect_noindex=respect_noindex)
    if entity_dict:
        triples = link_entities(triples, entity_dict, keep_input=True)

    def commit(batch_df, epoch_id: int) -> None:
        materialize(batch_df, store_root,
                    f"{batch_prefix}-{epoch_id:08d}",
                    lineage={"source": "stream-pages",
                             "input_dir": input_dir, "epoch": epoch_id})

    writer = (triples.writeStream
              .foreachBatch(commit)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

