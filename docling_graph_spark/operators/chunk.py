"""Chunking + adaptive batching stage.

Chunk boundaries follow the reference's greedy sentence-boundary splitter and
batch assignment follows its two-phase packer (kernels.chunking /
kernels.batching, parity-tested).  Both are *per-document* pure functions, so
they run fused in a single Arrow-batched pandas UDF pass — no shuffle at all:
a document's chunks are computed and batch-labelled where the document row
lives.  (The reference computes chunks, then batches, as two sequential
passes over driver-side lists; here the fusion is what makes the stage scale
linearly with input splits.)

Output: one row per chunk with lineage offsets and its batch id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from ..kernels import batching as k_batch
from ..kernels import chunking as k_chunk
from ..schemas import CHUNK_SPAN, MENTION
from .extract import extractable

_CHUNK_ARRAY = T.ArrayType(CHUNK_SPAN)

DEFAULT_MAX_TOKENS = 512
DEFAULT_CONTEXT_LIMIT = 8000
DEFAULT_MERGE_THRESHOLD = k_batch.DEFAULT_MERGE_THRESHOLD


def batched_spans(text: str, max_tokens: int, available: int,
                  merge_threshold: float, count):
    """One document's chunk spans, each with its batching cost and batch id:
    the per-document body shared by the chunk UDF and the fused
    extract+chunk UDF (operators/extract.py).  ``count`` is the token
    counter; ``available`` the per-batch token budget."""
    spans = k_chunk.chunk_spans(text, max_tokens)
    costs = [count(s.text) + k_batch.CHUNK_OVERHEAD_TOKENS for s in spans]
    batch_of = {}
    for b in k_batch.batch_chunks(costs, available, merge_threshold):
        for idx in b.chunk_indices:
            batch_of[idx] = b.batch_id
    return [(s, costs[i], batch_of.get(i, 0)) for i, s in enumerate(spans)]


def make_chunker_udf(max_tokens: int = DEFAULT_MAX_TOKENS,
                     context_limit: int = DEFAULT_CONTEXT_LIMIT,
                     merge_threshold: float = DEFAULT_MERGE_THRESHOLD,
                     tokenizer_name=None):
    available = k_batch.available_tokens(context_limit)

    @pandas_udf(_CHUNK_ARRAY)
    def chunk_and_batch(texts: pd.Series) -> pd.Series:
        # resolved lazily on the executor; constructed tokenizers are cached
        # per process (kernels.tokenization) — None = reference heuristic
        from ..kernels.tokenization import get_token_counter

        count = get_token_counter(tokenizer_name)
        return pd.Series([
            [
                {
                    "chunk_id": s.chunk_id,
                    "start": s.start,
                    "end": s.end,
                    "text": s.text,
                    "token_est": cost,
                    "batch_id": batch_id,
                }
                for s, cost, batch_id in batched_spans(
                    text, max_tokens, available, merge_threshold, count)
            ] if text else []
            for text in texts
        ])

    return chunk_and_batch


def chunk_documents(extracted: DataFrame,
                    max_tokens: int = DEFAULT_MAX_TOKENS,
                    context_limit: int = DEFAULT_CONTEXT_LIMIT,
                    merge_threshold: float = DEFAULT_MERGE_THRESHOLD,
                    tokenizer_name=None) -> DataFrame:
    """extracted docs -> chunk rows
    (url, lang, chunk_id, start, end, text, token_est, batch_id).

    ``tokenizer_name`` plugs a real HF tokenizer into the batching cost
    estimates when the library is installed (reference
    `document_chunker.py:60-95`); default None = the byte-stable heuristic."""
    udf = make_chunker_udf(max_tokens, context_limit, merge_threshold,
                           tokenizer_name)
    with_chunks = extracted.select(
        "url", "lang", udf(F.col("text")).alias("chunks")
    )
    c = F.explode("chunks").alias("c")
    return with_chunks.select("url", "lang", c).select(
        "url", "lang",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start").alias("start"),
        F.col("c.end").alias("end"),
        F.col("c.text").alias("text"),
        F.col("c.token_est").alias("token_est"),
        F.col("c.batch_id").alias("batch_id"),
    )


def chunks_from_combined(combined: DataFrame) -> DataFrame:
    """Chunk rows from the fused extract+chunk relation (same schema as
    chunk_documents' output; pure JVM filter + explode + flatten — no second
    Python pass).

    The fused UDF ships chunks WITHOUT their text (schemas.CHUNK_SPAN_LITE):
    every chunk string is the exact code-point slice text[start:end] of the
    document text, rebuilt here JVM-side instead of crossing the Arrow
    boundary a second time.  The rebuild slices the BINARY form at the
    UTF-8 byte offsets the UDF recorded (`b_start`/`b_end`) — a string
    `substring()` counts code points, an O(doc_len) scan per chunk that
    measured 6.5x the whole-stage cost on a 2 MB document, while the byte
    slice is O(chunk) and decodes to the identical string
    (differential-tested incl. astral chars,
    tests/test_chunk_substring.py)."""
    c = F.explode("chunks").alias("c")
    return combined.filter(extractable()).select(
        "url", "lang", "text", c).select(
        "url", "lang",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start").alias("start"),
        F.col("c.end").alias("end"),
        F.decode(
            F.col("text").cast("binary").substr(
                (F.col("c.b_start") + F.lit(1)).cast("int"),
                (F.col("c.b_end") - F.col("c.b_start")).cast("int"),
            ),
            "UTF-8",
        ).alias("text"),
        F.col("c.token_est").alias("token_est"),
        F.col("c.batch_id").alias("batch_id"),
    )


_HYBRID_CHUNK = T.ArrayType(T.StructType([
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("start", T.LongType()),
    T.StructField("end", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("heading_path", T.ArrayType(T.StringType())),
    T.StructField("context", T.StringType()),
    T.StructField("token_est", T.IntegerType()),
]))

_HYBRID_DOC = T.StructType([
    T.StructField("chunks", _HYBRID_CHUNK),
    T.StructField("mentions", T.ArrayType(MENTION)),
])


def make_hybrid_chunker_udf(max_tokens: int = DEFAULT_MAX_TOKENS,
                            merge_peers: bool = True,
                            tokenizer_name=None):
    """(text, spans) -> struct(chunks, mentions): the document's hybrid
    chunk array and its mention aggregate over those chunks
    (kernels/mentions.py), from one Python pass."""
    from ..kernels import hybrid_chunker as k_hybrid
    from ..kernels.mentions import doc_mention_rows

    @pandas_udf(_HYBRID_DOC)
    def hybrid(texts: pd.Series, spans: pd.Series) -> pd.DataFrame:
        from ..kernels.tokenization import get_token_counter

        count = get_token_counter(tokenizer_name)
        out, mentions = [], []
        for text, blocks in zip(texts, spans):
            if not text:
                out.append([])
                mentions.append([])
                continue
            bl = [
                k_hybrid.Block(int(b["start"]), int(b["end"]), b["tag"])
                for b in (blocks if blocks is not None else [])
            ]
            chunks = k_hybrid.hybrid_chunk(text, bl, max_tokens, merge_peers,
                                           token_counter=count)
            out.append([
                {
                    "chunk_id": c.chunk_id,
                    "start": c.start,
                    "end": c.end,
                    "text": c.text,
                    "heading_path": list(c.heading_path),
                    "context": k_hybrid.contextualize(c),
                    "token_est": c.token_est,
                }
                for c in chunks
            ])
            mentions.append(doc_mention_rows(
                (c.chunk_id, c.text) for c in chunks))
        return pd.DataFrame({"chunks": out, "mentions": mentions})

    return hybrid


def with_hybrid_chunks(docs: DataFrame,
                       max_tokens: int = DEFAULT_MAX_TOKENS,
                       merge_peers: bool = True,
                       tokenizer_name=None, gate=None) -> DataFrame:
    """Documents with block spans (text, spans) -> the same rows plus a
    ``chunks`` array (the HybridChunker analogue, see
    kernels.hybrid_chunker) and a ``mentions`` array (schemas.MENTION).
    Rows where the boolean column ``gate`` is false get empty arrays.
    Zero shuffle: a per-document pure function where the row lives."""
    udf = make_hybrid_chunker_udf(max_tokens, merge_peers, tokenizer_name)
    text = F.col("text") if gate is None else F.when(gate, F.col("text"))
    return docs.withColumn("h", udf(text, F.col("spans"))).select(
        *docs.columns, F.col("h.chunks").alias("chunks"),
        F.col("h.mentions").alias("mentions"))


def hybrid_chunks(docs: DataFrame) -> DataFrame:
    """`with_hybrid_chunks` rows -> chunk rows (url, lang, chunk_id, start,
    end, text, heading_path, context, token_est)."""
    c = F.explode("chunks").alias("c")
    return docs.select("url", "lang", c).select(
        "url", "lang",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start").alias("start"),
        F.col("c.end").alias("end"),
        F.col("c.text").alias("text"),
        F.col("c.heading_path").alias("heading_path"),
        F.col("c.context").alias("context"),
        F.col("c.token_est").alias("token_est"),
    )


def hybrid_chunk_documents(extracted: DataFrame,
                           max_tokens: int = DEFAULT_MAX_TOKENS,
                           merge_peers: bool = True,
                           tokenizer_name=None) -> DataFrame:
    """Structure-aware chunking: extracted docs with block spans -> chunk
    rows (see `hybrid_chunks`)."""
    return hybrid_chunks(with_hybrid_chunks(extracted, max_tokens,
                                            merge_peers, tokenizer_name))


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
