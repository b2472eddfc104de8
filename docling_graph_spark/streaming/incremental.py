"""Incremental ingestion via Structured Streaming.

The reference pipeline is one-shot per document (SURVEY §2.9 — no streaming
exists to port).  At corpus scale, however, a Common-Crawl-style table grows
by crawl batch, and the natural Spark expression of "process only what's
new" is a file-source stream:

    readStream(new parquet files) → foreachBatch(one CheckpointedRun run)
    → stage appends + one manifest row, offsets in the stream checkpoint

`Trigger.AvailableNow` drains everything currently unprocessed then stops —
the cron-style incremental run.  The two checkpoints answer different
failure models: stream offsets track *input files*, and the
`checkpointing.CheckpointedRun` manifest tracks *committed outputs*.  Spark
replays a batch whose offsets were logged but never committed; the batch's
resume anti-join against committed urls makes that replay redo exactly the
work whose run never committed (Bladerunner-style exactly-once delivery:
each batch is idempotent against one commit record).

Each micro-batch runs `pipeline.run_pipeline` itself — one code path for
batch and streaming, which is the point of foreachBatch — so the stream
honors every `PipelineConfig` knob the oneshot job does (``chunker``,
``tokenizer_name``, ``schema_size``, ...) and pays the fused extract+chunk
Python pass once per micro-batch.  Graph finalize over the accumulated
tables is `checkpointing.CheckpointedRun.graph`, the resumed runs' reader.
"""

from __future__ import annotations

import dataclasses
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpointing import CheckpointedRun
from ..operators import linkgraph as op_lg
from ..pipeline import PipelineConfig, run_pipeline
from ..schemas import WEB_PAGES
from ..sources.warc import register_warc_source, write_wet


def stream_web_pages(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: Optional[int] = None,
                     input_format: str = "parquet") -> DataFrame:
    """File-source stream over a growing directory of web-page parquet —
    or, with ``input_format="warc"``, over raw crawl files via the
    streaming WARC source (sources/warc.py): response records map onto the
    WEB_PAGES shape (text/lang NULL — extraction derives them), so the
    same foreachBatch pipeline ingests either representation."""
    if input_format == "warc":
        register_warc_source(spark)
        raw = spark.readStream.format("warc").load(input_dir)
        # content_type rides along as a 6th column: the extraction UDF
        # uses its charset parameter as the transport-layer hint (HTML5
        # order: BOM > transport > content), which is the only charset
        # signal for legacy pages with no in-document declaration
        return raw.filter(F.col("record_type") == "response").select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
            "content_type",
        )
    reader = spark.readStream.schema(WEB_PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_incremental(spark: SparkSession, input_dir: str, output_root: str,
                    checkpoint_dir: str,
                    config: Optional[PipelineConfig] = None,
                    input_format: str = "parquet",
                    wet_dir: Optional[str] = None,
                    link_edges: bool = False) -> int:
    """Drain all currently-unprocessed input files, then stop; returns the
    number of documents the drain's runs processed.

    Each micro-batch is one `CheckpointedRun` run under ``output_root``
    over the newest capture (max ``warc_ts``) of each url in the batch:
    urls already committed are skipped by the resume anti-join, and the
    run commits `extracted`, `chunks`, `doc_mentions` and `metrics` with
    one manifest row.  A crash before that row leaves only invisible
    orphans, so Structured Streaming's replay of the batch redoes exactly
    the uncommitted urls.  Graph assembly stays a downstream batch job
    over the committed stages (Term nodes aggregate across the whole
    corpus, which a per-micro-batch view cannot see).

    ``wet_dir``: also publish each micro-batch's extracted text as
    WET-style crawl files (``wet_dir/batch-<id>/wet-*.warc.gz``, written
    from executors, before the commit) — continuous WET production from a
    raw crawl stream.

    ``link_edges``: the run also commits the host-level outlink edge
    partials of its new urls, ``(url, src_host, dst_host, n_links)``, as
    ``host_edges``; :func:`finalize_link_graph` re-sums them by host pair
    and ranks downstream.  The edges are exactly-once per url through
    ``host_edges`` itself, not through ``extracted``: a url whose
    extraction fails the extractable filter has still contributed edges,
    and a recapture must not double them.  A delete hides a url's
    partials like its other rows, so its recapture contributes them
    afresh; a url with no outlinks has no partial and re-runs to zero
    rows.
    """
    cfg = config or PipelineConfig()
    ck = CheckpointedRun(spark, output_root, cfg)
    processed = []

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        # newest capture per url within the batch ((url, warc_ts) pairs
        # from a crawl are unique)
        w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
        newest = (batch_df.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        # each pending selection reads a table the commit appends to:
        # truncate its lineage first, as `CheckpointedRun.run` does
        todo = ck.pending(newest).localCheckpoint(eager=True)
        extra = {}
        if link_edges:
            # per-url partial counts: a url is pending for edges until one
            # of its captures committed them, and a delete hides them;
            # integer add is associative, so batch boundaries cannot
            # change the finalized weights
            extra = {"host_edges": op_lg.extract_outlinks(
                ck.pending(newest, "host_edges").localCheckpoint(eager=True))
                .groupBy("url", "src_host", "dst_host")
                .agg(F.count("*").alias("n_links"))}
        res = run_pipeline(todo, dataclasses.replace(
            cfg, run_id=f"{cfg.run_id}-b{batch_id}", materialize=True))
        if wet_dir:
            write_wet(res.extracted,
                      f"{wet_dir.rstrip('/')}/batch-{batch_id}")
        processed.append(ck.commit(res, t0, **extra))

    query = (
        stream_web_pages(spark, input_dir, input_format=input_format)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return sum(processed)


def assemble_accumulated_graph(spark: SparkSession, output_root: str,
                               config: Optional[PipelineConfig] = None,
                               write: bool = True):
    """The downstream batch job the streaming docstring promises: build the
    document/chunk/term graph over the stage tables a stream (or many
    resumed runs) accumulated under ``output_root``.

    Graph assembly cannot run per micro-batch because Term nodes aggregate
    mention counts across the WHOLE corpus — a batch-local view would emit
    one Term node per (term, batch) with partial counts.  So ingestion
    appends the document-local relations (extracted/chunks/doc_mentions,
    all keyed by url — disjoint per batch, safely appendable) and this job
    finalizes the corpus-global ones.  It reads them through
    `CheckpointedRun.graph`, so on a stream or resume root alike only
    committed rows count (a crashed run's appends stay out).  Ids and
    reverse edges follow ``config``'s ``id_mode`` and
    ``add_reverse_edges``.

    Node ids derive from urls, so the tables must hold ONE capture per url:
    stream ingestion and the resume protocol both guarantee that across
    runs, but a single run's input may repeat a url.
    With duplicate captures present the chunk/mention rows of the captures
    are indistinguishable (their natural keys carry no capture stamp) and
    no deterministic graph exists — detected here and refused rather than
    silently mixing captures.

    Writes ``nodes``/``edges`` parquet tables under ``output_root``
    (overwrite: finalize exports the corpus-global snapshot, which no
    `CheckpointedRun` reader reads; the stage tables stay append-only).
    Returns ``(nodes, edges)``.
    """
    root = output_root.rstrip("/")
    ck = CheckpointedRun(spark, root, config)
    extracted = ck.extracted()

    dup = extracted.groupBy("url").count().filter(F.col("count") > 1)
    if not dup.limit(1).isEmpty():
        raise ValueError(
            "extracted table holds multiple captures of the same url — "
            "graph finalize needs one capture per url (a run's input "
            "repeated a url); found e.g. "
            f"{dup.limit(3).collect()}"
        )

    nodes, edges = ck.graph()
    if write:
        nodes.write.mode("overwrite").parquet(f"{root}/nodes")
        edges.write.mode("overwrite").parquet(f"{root}/edges")
        nodes = spark.read.parquet(f"{root}/nodes")
        edges = spark.read.parquet(f"{root}/edges")
    return nodes, edges


def finalize_link_graph(spark: SparkSession, output_root: str,
                        write: bool = True) -> "tuple[DataFrame, DataFrame]":
    """Corpus-global host link graph + integer PageRank over the committed
    per-url ``host_edges`` partial counts of a stream's runs (read through
    the visibility rule, so a crashed batch's or a deleted url's partials
    stay out): re-aggregate by host pair (sum of n_links — exact, since
    integer addition is associative across any batch split) and rank.  Returns
    (edges, ranks); with ``write`` they land as ``host_edges_final`` /
    ``host_ranks`` snapshots (overwrite — finalize rebuilds the global
    view, the committed partials remain the source of truth)."""
    root = output_root.rstrip("/")
    partials = CheckpointedRun(spark, root).committed("host_edges")
    edges = (partials.groupBy("src_host", "dst_host")
             .agg(F.sum("n_links").alias("n_links")))
    ranks = op_lg.pagerank(edges)
    if write:
        edges.write.mode("overwrite").parquet(f"{root}/host_edges_final")
        ranks.write.mode("overwrite").parquet(f"{root}/host_ranks")
        edges = spark.read.parquet(f"{root}/host_edges_final")
        ranks = spark.read.parquet(f"{root}/host_ranks")
    return edges, ranks
