"""Chunking + adaptive batching stage.

Chunk boundaries follow the reference's greedy sentence-boundary splitter and
batch assignment follows its two-phase packer (kernels.chunking /
kernels.batching, parity-tested); the hybrid chunker follows docling's
HybridChunker (kernels.hybrid_chunker).  All are *per-document* pure
functions, so they run inside the one extraction UDF
(operators/extract.make_extract_chunk_udf) — no shuffle at all: a
document's chunks are planned where the document row lives.  (The
reference computes chunks, then batches, as two sequential passes over
driver-side lists; here the fusion is what makes the stage scale linearly
with input splits.)

This module holds the per-document fallback planner (`batched_spans`), the
JVM projection of the UDF's chunk arrays into chunk rows
(`chunks_from_combined`) and the batch summaries over those rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import batching as k_batch
from ..kernels import chunking as k_chunk
from .extract import extractable

DEFAULT_MAX_TOKENS = 512
DEFAULT_CONTEXT_LIMIT = 8000
DEFAULT_MERGE_THRESHOLD = k_batch.DEFAULT_MERGE_THRESHOLD


def batched_spans(text: str, max_tokens: int, available: int,
                  merge_threshold: float, count):
    """One document's chunk spans, each with its batching cost and batch id:
    the fallback chunker's per-document body in the extraction UDF
    (operators/extract.py).  ``count`` is the token counter; ``available``
    the per-batch token budget."""
    spans = k_chunk.chunk_spans(text, max_tokens)
    costs = [count(s.text) + k_batch.CHUNK_OVERHEAD_TOKENS for s in spans]
    batch_of = {}
    for b in k_batch.batch_chunks(costs, available, merge_threshold):
        for idx in b.chunk_indices:
            batch_of[idx] = b.batch_id
    return [(s, costs[i], batch_of.get(i, 0)) for i, s in enumerate(spans)]


def chunks_from_combined(combined: DataFrame) -> DataFrame:
    """Chunk rows from the extraction UDF's relation: a pure JVM filter +
    explode + flatten, no second Python pass.  Columns follow the chunker
    that planned the arrays:

    * fallback — (url, lang, chunk_id, start, end, text, token_est,
      batch_id);
    * hybrid — (url, lang, chunk_id, start, end, text, heading_path,
      context, token_est), where ``context`` is the heading path above the
      chunk text, one heading per line (`hybrid_chunker.contextualize`).

    The UDF ships chunks WITHOUT their text (schemas.CHUNK_SPAN_LITE /
    HYBRID_CHUNK_LITE): every chunk string is the exact code-point slice
    text[start:end] of the document text, rebuilt here JVM-side instead of
    crossing the Arrow boundary a second time.  The rebuild slices the
    BINARY form at the UTF-8 byte offsets the UDF recorded
    (`b_start`/`b_end`) — a string `substring()` counts code points, an
    O(doc_len) scan per chunk that measured 6.5x the whole-stage cost on a
    2 MB document, while the byte slice is O(chunk) and decodes to the
    identical string (differential-tested incl. astral chars,
    tests/test_chunk_substring.py)."""
    c = F.explode("chunks").alias("c")
    text = F.decode(
        F.col("text").cast("binary").substr(
            (F.col("c.b_start") + F.lit(1)).cast("int"),
            (F.col("c.b_end") - F.col("c.b_start")).cast("int"),
        ),
        "UTF-8",
    ).alias("text")
    rows = combined.filter(extractable()).select("url", "lang", "text", c)
    head = ["url", "lang", F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.start").alias("start"), F.col("c.end").alias("end")]
    if "heading_path" in rows.schema["c"].dataType.names:
        return rows.select(
            *head, text, F.col("c.heading_path").alias("heading_path"),
            F.col("c.token_est").alias("token_est"),
        ).select(
            "url", "lang", "chunk_id", "start", "end", "text", "heading_path",
            F.concat_ws("\n", "heading_path", "text").alias("context"),
            "token_est",
        )
    return rows.select(
        *head, text,
        F.col("c.token_est").alias("token_est"),
        F.col("c.batch_id").alias("batch_id"),
    )


def batch_summaries(chunks: DataFrame) -> DataFrame:
    """(url, batch_id) -> chunk_count, total_tokens, combined_text —
    combined text formatted exactly like the reference ChunkBatch
    (`/root/reference/docling_graph/core/extractors/chunk_batcher.py:43-48`)."""
    per_batch = (
        chunks
        .groupBy("url", "batch_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("chunk_id", "text"))).alias("cs"),
            F.sum("token_est").alias("total_tokens"),
            F.count("*").alias("chunk_count"),
        )
    )
    n = F.size("cs")
    numbered = F.transform(
        "cs",
        lambda s, i: F.concat(
            F.lit("[Chunk "), (i + 1).cast("string"), F.lit("/"),
            n.cast("string"), F.lit("]\n"), s["text"],
        ),
    )
    return per_batch.select(
        "url", "batch_id", "chunk_count", "total_tokens",
        F.array_join(numbered, k_batch.CHUNK_SEPARATOR).alias("combined_text"),
    )
