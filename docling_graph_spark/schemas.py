"""Canonical StructType schemas for every stage of the pipeline.

Mirrors SURVEY.md §1: web_pages input (BASELINE.json input_hint), extracted
documents, chunks (+spans lineage), batches, model records, nodes, edges,
metrics.  Fixed per run; nested per-template model schemas are compiled from
TemplateSpec descriptors.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input table (url, warc_ts, html, text, lang) — input_hint shape
WEB_PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

BLOCK_SPAN = T.StructType([
    T.StructField("start", T.LongType(), False),
    T.StructField("end", T.LongType(), False),
    T.StructField("tag", T.StringType(), True),
])

# ---- output of the main-content extraction stage
EXTRACTION_RESULT = T.StructType([
    T.StructField("text", T.StringType(), True),
    T.StructField("spans", T.ArrayType(BLOCK_SPAN), True),
    T.StructField("bytes_stripped", T.LongType(), True),
    T.StructField("kind", T.StringType(), True),    # html | pdf | text | empty
    T.StructField("error", T.StringType(), True),
])

# A fallback chunk in the extraction UDF output: chunk text is NOT shipped
# across the Arrow boundary — every chunk string is an exact code-point slice
# text[start:end] of the document text by construction
# (kernels/chunking.chunk_spans emits stripped-region offsets; the
# single-chunk short-circuit is text[0:len]), so the JVM reconstructs it,
# halving UDF output bytes and cache footprint.  Reconstruction is
# byte-addressed: b_start/b_end are UTF-8 BYTE offsets of the same slice,
# and the JVM slices the binary form — `substring()` on a string counts
# code points, which is an O(doc_len) scan PER CHUNK (measured 6.5x the
# whole-stage cost on a 2 MB document), while a byte slice is O(chunk).
# start/end stay code-point offsets (the lineage contract).
CHUNK_SPAN_LITE = T.StructType([
    T.StructField("chunk_id", T.IntegerType(), False),
    T.StructField("start", T.LongType(), False),
    T.StructField("end", T.LongType(), False),
    T.StructField("b_start", T.LongType(), False),
    T.StructField("b_end", T.LongType(), False),
    T.StructField("token_est", T.IntegerType(), False),
    T.StructField("batch_id", T.IntegerType(), False),
])

# The hybrid chunker's chunk in the same UDF output: the same offsets, and
# the heading path in place of the batch id (hybrid chunk strings are
# text[start:end] too, kernels/hybrid_chunker.py).  Nullable fields, as
# the hybrid `chunks` stage columns have always been.
HYBRID_CHUNK_LITE = T.StructType([
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("start", T.LongType()),
    T.StructField("end", T.LongType()),
    T.StructField("b_start", T.LongType()),
    T.StructField("b_end", T.LongType()),
    T.StructField("token_est", T.IntegerType()),
    T.StructField("heading_path", T.ArrayType(T.StringType())),
])

# One document's mention aggregate (kernels/mentions.doc_mention_rows),
# emitted by the extraction UDF next to the chunk array
MENTION = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),   # term | email | year
    T.StructField("n_mentions", T.LongType(), False),
    T.StructField("first_chunk_id", T.IntegerType(), False),
])

# the doc_mentions relation and stage table: MENTION flattened per url
DOC_MENTIONS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("lang", T.StringType(), True),
    *MENTION.fields,
])

NODES = T.StructType([
    T.StructField("id", T.StringType(), False),
    T.StructField("label", T.StringType(), False),
    T.StructField("type", T.StringType(), False),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
])

EDGES = T.StructType([
    T.StructField("src", T.StringType(), False),
    T.StructField("dst", T.StringType(), False),
    T.StructField("label", T.StringType(), False),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
])

METRICS = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("partition_key", T.StringType(), False),
    T.StructField("docs_parsed", T.LongType(), False),
    T.StructField("bytes_stripped", T.LongType(), False),
    T.StructField("nodes_emitted", T.LongType(), False),
    T.StructField("edges_emitted", T.LongType(), False),
    T.StructField("errors", T.LongType(), False),
    T.StructField("wall_seconds", T.DoubleType(), True),
])
