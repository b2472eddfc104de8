"""Deterministic entity extraction operators (the LLM-backend replacement,
`/root/reference/docling_graph/core/extractors/backends/llm_backend.py`).

Term/email/year mentions: the extraction UDF computes each document's
mention aggregate where it already holds the chunk text
(kernels/mentions.py, one definition for both chunkers) and ships it as a
``mentions`` array on the per-document relation; the two functions here
only project it into the ``doc_mentions`` relation (explode, flatten): no
regex scan JVM-side and no shuffle.  Template-shaped record extraction
lives in `operators/extract.make_template_extractor_udf`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_mentions(docs: DataFrame) -> DataFrame:
    """Per-document rows carrying a ``mentions`` array (schemas.MENTION)
    -> one row per (document, term, kind): (url, lang, m)."""
    return docs.select("url", "lang", F.explode("mentions").alias("m"))


def doc_mentions(mentions: DataFrame) -> DataFrame:
    """`extract_mentions` rows -> the document-level mention relation
    (schemas.DOC_MENTIONS: url, lang, term, kind, n_mentions,
    first_chunk_id).  A projection: the UDF already aggregated per
    document, so this needs no shuffle."""
    return mentions.select("url", "lang", "m.*")
