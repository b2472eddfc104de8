"""Incremental ingestion via Structured Streaming.

The reference pipeline is one-shot per document (SURVEY §2.9 — no streaming
exists to port).  At corpus scale, however, a Common-Crawl-style table grows
by crawl batch, and the natural Spark expression of "process only what's
new" is a file-source stream:

    readStream(new parquet files) → foreachBatch(run_pipeline)
    → append stage tables, offsets tracked in the stream checkpoint

`Trigger.AvailableNow` drains everything currently unprocessed then stops —
the cron-style incremental run.  The stream checkpoint (source offsets = which
input files were consumed) replaces the left_anti restart of
`checkpointing.CheckpointedRun`: both are provided because they answer
different failure models — stream offsets track *input files*, the anti-join
tracks *output keys* (and therefore also heals partially-written outputs).

Each micro-batch runs `pipeline.run_pipeline` itself — one code path for
batch and streaming, which is the point of foreachBatch — so the stream
honors every `PipelineConfig` knob the oneshot job does (``chunker``,
``tokenizer_name``, ``schema_size``, ...) and pays the fused extract+chunk
Python pass once per micro-batch.  Graph finalize over the accumulated
tables is `checkpointing.CheckpointedRun.graph`, the resumed runs' reader.
"""

from __future__ import annotations

import dataclasses
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import CheckpointedRun
from ..pipeline import PipelineConfig, run_pipeline
from ..schemas import WEB_PAGES


def stream_web_pages(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: Optional[int] = None,
                     input_format: str = "parquet") -> DataFrame:
    """File-source stream over a growing directory of web-page parquet —
    or, with ``input_format="warc"``, over raw crawl files via the
    streaming WARC source (sources/warc.py): response records map onto the
    WEB_PAGES shape (text/lang NULL — extraction derives them), so the
    same foreachBatch pipeline ingests either representation."""
    if input_format == "warc":
        from pyspark.sql import functions as F

        from ..sources.warc import register_warc_source

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


def _bloom_dir(root: str) -> str:
    return f"{root}/url_bloom"


def _load_bloom(spark: SparkSession, root: str, num_bits: int,
                ledger: DataFrame) -> DataFrame:
    """Words table of the seen-url Bloom filter, rebuilding from the url
    ledger when absent or sized differently (a prior run without the gate,
    a crash before the very first publish, or a re-size).  A REBUILT or
    freshly-read filter may over-approximate the ledger (publish happens
    before the stage-table append), which only sends extra candidates to
    the verifying anti-join — never a false negative."""
    import json
    import os

    path = _bloom_dir(root)
    meta_path = os.path.join(path, "_bloom_meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("num_bits") == num_bits:
            return spark.read.parquet(path)
    except Exception:
        pass
    from ..operators import bloom as op_bloom

    words = op_bloom.bloom_words(ledger, "url", num_bits)
    _publish_bloom_words(spark, root, num_bits, words)
    return spark.read.parquet(path)


def _publish_bloom_words(spark: SparkSession, root: str, num_bits: int,
                         words: DataFrame) -> None:
    """Atomic swap: materialize at a temp sibling, rename into place."""
    import json
    import os
    import shutil

    path = _bloom_dir(root)
    tmp = f"{path}.publishing"
    shutil.rmtree(tmp, ignore_errors=True)
    words.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_bloom_meta.json"), "w") as f:
        json.dump({"num_bits": num_bits}, f)
    old = f"{path}.old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    # the swap invalidates Spark's session-wide file-status cache for the
    # path (metadataCacheTTLSeconds defaults to never-expire)
    spark.catalog.refreshByPath(path)


def run_incremental(spark: SparkSession, input_dir: str, output_root: str,
                    checkpoint_dir: str,
                    config: Optional[PipelineConfig] = None,
                    input_format: str = "parquet",
                    wet_dir: Optional[str] = None,
                    dedup_urls: bool = False,
                    link_edges: bool = False,
                    bloom_bits: int = 0) -> None:
    """Drain all currently-unprocessed input files, then stop.

    Appends `extracted`, `chunks`, `doc_mentions` and `metrics` tables under
    `output_root`; graph assembly stays a downstream batch job over the
    accumulated tables (Term nodes aggregate across the whole corpus, which
    a per-micro-batch view cannot see).

    ``wet_dir``: also publish each micro-batch's extracted text as
    WET-style crawl files (``wet_dir/batch-<id>/wet-*.warc.gz``, written
    from executors) — continuous WET production from a raw crawl stream.

    ``link_edges``: also append each micro-batch's host-level outlink
    edge list (partial counts) to ``host_edges``;
    :func:`finalize_link_graph` re-aggregates and ranks downstream.
    With ``dedup_urls`` the accumulated edges are exactly-once per url,
    tracked by a dedicated ``host_edges_urls`` ledger (NOT the extracted
    table — a url whose extraction fails the extractable filter has
    still contributed edges, and a recapture must not double them);
    without it, re-captures contribute one edge set per capture
    (temporal-diff semantics, same as the stage tables).

    ``dedup_urls``: real crawls re-capture urls across crawl files; with
    this on, each url is processed once — within a micro-batch the newest
    capture (max warc_ts) wins, and urls already in the accumulated
    ``extracted`` table are skipped (left_anti, the same restart shape as
    ``checkpointing.CheckpointedRun``).  Off by default: some corpora
    want every capture as a separate row (temporal diffs).

    ``bloom_bits`` (with ``dedup_urls``): gate the history anti-join with
    a Bloom filter over seen urls (``operators/bloom.py``).  Bloom-negative
    rows are provably new and bypass the join; only the re-capture +
    false-positive sliver joins the ledger — the per-batch cost stops
    growing with history size.  The filter is maintained incrementally
    (``bit_or`` merge, atomic swap publish) and is published BEFORE the
    stage-table append, so after any crash it can only over-approximate
    the ledger (extra verify-join candidates, never a missed duplicate).
    0 disables the gate.  Size via ``operators.bloom.bloom_num_bits``.
    """
    cfg = config or PipelineConfig()
    root = output_root.rstrip("/")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if dedup_urls:
            from pyspark.sql import Window

            # newest capture per url within the batch (deterministic:
            # warc_ts desc, then the record's own order is irrelevant
            # because (url, warc_ts) pairs from a crawl are unique)
            w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
            batch_df = (batch_df.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") == 1).drop("_rn"))
            from pyspark.errors import AnalysisException

            try:
                seen = spark.read.parquet(f"{root}/extracted").select("url")
            except AnalysisException:
                seen = None  # first batch: no accumulated table yet
            if seen is not None:
                if bloom_bits > 0:
                    from ..operators import bloom as op_bloom

                    words = _load_bloom(spark, root, bloom_bits, seen)
                    gated = op_bloom.bloom_maybe_seen(
                        batch_df, "url", words, bloom_bits)
                    definite_new = (gated.filter(~F.col("maybe_seen"))
                                    .drop("maybe_seen"))
                    # bloom positives verify against the real ledger, so
                    # false positives cost a join probe, not a lost row
                    candidates = (gated.filter(F.col("maybe_seen"))
                                  .drop("maybe_seen")
                                  .join(seen, "url", "left_anti"))
                    batch_df = definite_new.unionByName(candidates)
                else:
                    batch_df = batch_df.join(seen, "url", "left_anti")
        # the stage tables are four writes over one result: materialize so
        # the extract+chunk pass and the mention aggregate run once
        res = run_pipeline(batch_df, dataclasses.replace(
            cfg, run_id=f"{cfg.run_id}-b{batch_id}", materialize=True))
        if dedup_urls and bloom_bits > 0:
            from ..operators import bloom as op_bloom

            # publish BEFORE the append: a crash between the two leaves the
            # filter over-approximating the ledger (harmless), never under
            delta = op_bloom.bloom_words(
                res.extracted.select("url"), "url", bloom_bits)
            try:
                existing = spark.read.parquet(_bloom_dir(root))
                merged = op_bloom.bloom_update(existing, delta)
            except Exception:
                merged = delta  # very first batch: no filter yet
            _publish_bloom_words(spark, root, bloom_bits, merged)
        res.extracted.write.mode("append").parquet(f"{root}/extracted")
        res.chunks.write.mode("append").parquet(f"{root}/chunks")
        res.doc_mentions.write.mode("append").parquet(f"{root}/doc_mentions")
        res.metrics.write.mode("append").parquet(f"{root}/metrics")
        if wet_dir:
            from ..sources.warc import write_wet

            write_wet(res.extracted,
                      f"{wet_dir.rstrip('/')}/batch-{batch_id}")
        if link_edges:
            from ..operators import linkgraph as op_lg

            # per-batch partial counts; finalize_link_graph re-sums —
            # integer add is associative, so accumulation order and batch
            # boundaries cannot change the final weights.  With
            # dedup_urls the baseline is a DEDICATED url ledger, not the
            # extracted table: a url whose extraction fails the
            # extractable filter still contributed its edges, and a
            # recapture must not contribute them again.
            edge_src = batch_df
            if dedup_urls:
                try:
                    ledger = spark.read.parquet(
                        f"{root}/host_edges_urls").select("url")
                except Exception:
                    ledger = None
                if ledger is not None:
                    edge_src = edge_src.join(ledger, "url", "left_anti")
                edge_src = edge_src.persist()
            op_lg.host_link_graph(edge_src).write.mode("append").parquet(
                f"{root}/host_edges")
            if dedup_urls:
                edge_src.select("url").write.mode("append").parquet(
                    f"{root}/host_edges_urls")
                edge_src.unpersist()
        res.unpersist()

    query = (
        stream_web_pages(spark, input_dir, input_format=input_format)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def assemble_accumulated_graph(spark: SparkSession, output_root: str,
                               config: Optional[PipelineConfig] = None,
                               write: bool = True,
                               check_unique: bool = True):
    """The downstream batch job the streaming docstring promises: build the
    document/chunk/term graph over the stage tables a stream (or many
    resumed runs) accumulated under ``output_root``.

    Graph assembly cannot run per micro-batch because Term nodes aggregate
    mention counts across the WHOLE corpus — a batch-local view would emit
    one Term node per (term, batch) with partial counts.  So ingestion
    appends the document-local relations (extracted/chunks/doc_mentions,
    all keyed by url — disjoint per batch, safely appendable) and this job
    finalizes the corpus-global ones.  It reads them through
    `CheckpointedRun.graph`, so on a resume root only committed rows count
    (a crashed run's appends stay out); a stream root's tables carry no
    run stamp and are read whole.  Ids and reverse edges follow
    ``config``'s ``id_mode`` and ``add_reverse_edges``.

    Node ids derive from urls, so the tables must hold ONE capture per url:
    `dedup_urls` ingestion and the resume protocol both guarantee that.
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

    # the guard is one aggregation over the url column; at full corpus
    # scale a caller whose ingestion already guarantees uniqueness
    # (dedup_urls / resume protocol) can skip it with check_unique=False
    dup = (extracted.groupBy("url").count().filter(F.col("count") > 1)
           if check_unique else None)
    if dup is not None and not dup.limit(1).isEmpty():
        raise ValueError(
            "extracted table holds multiple captures of the same url — "
            "graph finalize needs one capture per url (ingest with "
            "dedup_urls=True or the resume protocol); found e.g. "
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
    """Corpus-global host link graph + integer PageRank over the
    ``host_edges`` partial counts a stream accumulated: re-aggregate
    (sum of per-batch n_links — exact, since integer addition is
    associative across any batch split) and rank.  Returns
    (edges, ranks); with ``write`` they land as ``host_edges_final`` /
    ``host_ranks`` snapshots (overwrite — finalize rebuilds the global
    view, the append-only partials remain the source of truth)."""
    from pyspark.sql import functions as F

    from ..operators import linkgraph as op_lg

    root = output_root.rstrip("/")
    partials = spark.read.parquet(f"{root}/host_edges")
    edges = (partials.groupBy("src_host", "dst_host")
             .agg(F.sum("n_links").alias("n_links")))
    ranks = op_lg.pagerank(edges)
    if write:
        edges.write.mode("overwrite").parquet(f"{root}/host_edges_final")
        ranks.write.mode("overwrite").parquet(f"{root}/host_ranks")
        edges = spark.read.parquet(f"{root}/host_edges_final")
        ranks = spark.read.parquet(f"{root}/host_ranks")
    return edges, ranks
