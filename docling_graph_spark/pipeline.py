"""End-to-end document→graph pipeline (the Spark mapping of the reference's
orchestrator, SURVEY §3.1).

    scan web_pages → extract main content, chunk+batch and aggregate each
    document's mentions (one fused Arrow UDF, zero shuffle) → project the
    chunk and doc_mentions relations from it → graph assembly →
    relational cleanup → stats / lineage metrics

Stage boundaries are shuffles instead of the reference's HTTP/process hops.
Skew: the url-host power law is handled by hashing full urls (not hosts) for
the main aggregations plus AQE skew-join handling; `salted_repartition` is
available for host-keyed stages.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels import chunking
from .operators import chunk as op_chunk
from .operators import entities as op_entities
from .operators import extract as op_extract
from .operators import graph as op_graph
from .operators import stats as op_stats
from .sources.web_pages import synthesize_web_pages


@dataclass
class PipelineConfig:
    """Knobs mirroring the reference PipelineConfig
    (`/root/reference/docling_graph/config.py:76-154`), Spark-relevant subset."""

    max_tokens: int = op_chunk.DEFAULT_MAX_TOKENS
    context_limit: int = op_chunk.DEFAULT_CONTEXT_LIMIT
    # F9: JSON-schema byte size of the extraction template; >0 shrinks the
    # chunk token budget via kernels.chunking.schema_adjusted_max_tokens
    # (reference document_chunker.py:115-172), computed once driver-side.
    schema_size: int = 0
    merge_threshold: float = op_chunk.DEFAULT_MERGE_THRESHOLD
    # the chunk planner inside the extraction UDF: "fallback" = reference
    # raw-text chunker + W1/W2 batching (byte-parity path, chunks carry
    # batch_id); "hybrid" = heading-aware HybridChunker analogue over the
    # extractor's block spans (chunks carry heading_path and context)
    chunker: str = "fallback"
    # optional real tokenizer for the chunk/batch token budgets (reference
    # `document_chunker.py:60-95`): an HF tokenizer name, used when the
    # tokenizer libraries are installed; None = byte-stable length heuristic
    tokenizer_name: Optional[str] = None
    id_mode: str = "blake2b"           # blake2b (parity) | xxhash64 (fast)
    add_reverse_edges: bool = False
    content_dedup: bool = False
    run_id: str = "run"
    # persist the one UDF output relation (`PipelineResult.combined`:
    # extraction, chunks and mention aggregate per document) as part of
    # building the result, so a caller that runs several output actions
    # (nodes AND edges AND metrics) parses each document once — without
    # this the edges plan re-runs the Arrow extraction per union branch.
    # False for single-action jobs that write one table and exit (a pure
    # pipeline needs no cache; persisting would only cost memory).
    materialize: bool = True


@dataclass
class PipelineResult:
    extracted: DataFrame
    chunks: DataFrame
    doc_mentions: DataFrame
    nodes: DataFrame
    edges: DataFrame
    metrics: DataFrame
    # free-rider global counters: an Observation attached to the extraction
    # relation — populated by whichever output action runs first, costing
    # ZERO extra jobs (the per-host breakdown stays in `metrics`, which
    # needs its own groupBy)
    observation: "object" = None
    # pre-filter extraction output (error rows included) — metrics derive
    # from it
    extracted_all: Optional[DataFrame] = None
    # every document with its chunk array and mention aggregate, from the
    # chunking UDF: extracted_all, chunks and doc_mentions are cheap
    # projections of it, so it is the one relation persisted
    combined: Optional[DataFrame] = None

    @property
    def run_counters(self) -> Dict:
        """Global (docs_parsed, bytes_stripped, errors, docs_extracted)
        observed on the first output action; blocks until one has run."""
        return dict(self.observation.get)

    def _persist_roots(self):
        return (self.combined,)

    def persist(self) -> "PipelineResult":
        """Persist the UDF output relation (`combined`) so multiple output
        actions share one computation — the in-memory analogue of the
        production pattern where each stage is written to a table once and
        read back, never recomputed."""
        for df in self._persist_roots():
            df.persist()
        return self

    def unpersist(self) -> "PipelineResult":
        for df in self._persist_roots():
            df.unpersist()
        return self


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt_buckets: int = 16) -> DataFrame:
    """North-rule skew handling: repartition on salted url-host hash so hot
    hosts spread over `salt_buckets` partitions."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.xxhash64(host, salt))


def ensure_parallel_input(web_pages: DataFrame) -> DataFrame:
    """Guarantee the extraction stage can use the whole cluster.

    A Common-Crawl-style table read from few/fat files yields few input
    splits, and the Arrow UDF parse — the dominant cost — inherits that
    parallelism.  When the scan has fewer partitions than the cluster's
    defaultParallelism, redistribute by the salted url-host hash (north-rule
    skew handling: hot hosts spread across salt buckets instead of
    hot-spotting one task)."""
    # a source that already guarantees >= defaultParallelism partitions tags
    # itself, skipping the .rdd partition probe (several seconds of
    # driver-side plan->RDD conversion)
    if getattr(web_pages, "_dgspark_parallel_ok", False):
        return web_pages
    target = web_pages.sparkSession.sparkContext.defaultParallelism
    if web_pages.rdd.getNumPartitions() >= target:
        return web_pages
    return salted_repartition(web_pages, target)


def build_web_graph(extracted: DataFrame, chunks: DataFrame,
                    doc_mentions: DataFrame,
                    cfg: PipelineConfig) -> Tuple[DataFrame, DataFrame]:
    """Graph half of the pipeline: document/chunk/term graph assembly plus
    relational cleanup.  The one graph function: `run_pipeline` runs it
    over a pass's relations, and `CheckpointedRun.graph` (the resumed
    readers and graph mode) over the committed stage tables.  Ids and
    reverse edges follow ``cfg.id_mode`` and ``cfg.add_reverse_edges``,
    the caller's config, not that of the runs that wrote the tables."""
    nodes, edges = op_graph.assemble_web_graph(
        extracted, chunks, doc_mentions,
        id_mode=cfg.id_mode, add_reverse_edges=cfg.add_reverse_edges,
    )
    # the web graph is constructed: node ids derive from the same rows that
    # emit the edges, edge/node sets come out of groupBys and unique-row
    # projections — the dedup/orphan passes are no-ops and each would cost a
    # full shuffle of the largest relation.  Declare the invariants and use
    # op_graph.validate_web_graph to CHECK them (see graph_validation query).
    return op_graph.clean_graph(nodes, edges,
                                content_dedup=cfg.content_dedup,
                                edges_distinct=True,
                                nodes_distinct=True,
                                referential_integrity=True)


def run_pipeline(web_pages: DataFrame,
                 config: Optional[PipelineConfig] = None) -> PipelineResult:
    """Compose the document-local operators (extract → chunk → mention →
    metrics) and the graph half over ``web_pages``.  The one place the
    operators are wired together: the oneshot job, `CheckpointedRun` and
    every stream micro-batch (streaming/incremental.py) all run this."""
    cfg = config or PipelineConfig()
    web_pages = ensure_parallel_input(web_pages)

    max_tokens = (chunking.schema_adjusted_max_tokens(cfg.max_tokens,
                                                      cfg.schema_size)
                  if cfg.schema_size > 0 else cfg.max_tokens)
    from pyspark.sql import Observation

    obs = Observation("run_counters")

    def _observe(df: DataFrame) -> DataFrame:
        # counters ride the first real action over the extraction relation
        # (df.observe is an identity node with aggregate side-channels) —
        # the run-level docs/bytes/errors totals arrive without a job.
        # Sums over no rows are null: report 0, as the count does
        def total(col):
            return F.coalesce(F.sum(col), F.lit(0))

        return df.observe(
            obs,
            F.count(F.lit(1)).alias("docs_parsed"),
            total(F.coalesce(F.col("bytes_stripped"), F.lit(0)))
            .alias("bytes_stripped"),
            total(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("errors"),
            # rows `filter_extractable` keeps: the size of `extracted`
            total(F.when(op_extract.extractable(), 1).otherwise(0))
            .alias("docs_extracted"),
        )

    # one Python pass per document: extract, chunk (the planner
    # ``cfg.chunker`` selects) and aggregate mentions
    combined = op_extract.extract_and_chunk(
        web_pages, max_tokens, cfg.context_limit, cfg.merge_threshold,
        tokenizer_name=cfg.tokenizer_name, chunker=cfg.chunker,
    )
    chunks = op_chunk.chunks_from_combined(combined)
    # every other relation is projected from `combined` JVM-side
    extracted_all = _observe(combined.drop("chunks", "mentions"))
    extracted = op_extract.filter_extractable(extracted_all)
    mentions = op_entities.extract_mentions(combined)
    doc_mentions = op_entities.doc_mentions(mentions)

    nodes, edges = build_web_graph(extracted, chunks, doc_mentions, cfg)
    metrics = op_stats.partition_metrics(extracted_all, cfg.run_id)
    result = PipelineResult(extracted, chunks, doc_mentions, nodes, edges,
                            metrics, observation=obs,
                            extracted_all=extracted_all, combined=combined)
    if cfg.materialize:
        result.persist()
    return result


def run_on_testdata(spark: SparkSession, sf_dir: str,
                    config: Optional[PipelineConfig] = None) -> PipelineResult:
    return run_pipeline(synthesize_web_pages(spark, sf_dir), config)
