"""Deterministic entity extraction operators (the LLM-backend replacement).

Two paths mirroring the reference's backend split
(`/root/reference/docling_graph/core/extractors/backends/llm_backend.py`):

* relational path — term/email/year mentions.  The chunking UDF computes
  each document's mention aggregate where it already holds the chunk text
  (kernels/mentions.py, one definition for both chunkers) and ships it as a
  ``mentions`` array on the per-document relation; the two functions here
  only project it into the ``doc_mentions`` relation (explode, flatten):
  no regex scan JVM-side and no shuffle;
* template path — labelled-field extraction over batch combined text via an
  Arrow-batched pandas UDF producing template-shaped JSON records, exercising
  the reference's many-to-one strategy (batch extraction → merge).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from ..kernels.entity_extract import FieldRuleExtractor


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


def make_template_extractor_udf(extractor: FieldRuleExtractor):
    """Batch combined_text -> template-record JSON (one per batch row)."""

    @pandas_udf(T.StringType())
    def extract_record(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: json.dumps(extractor.extract(t or ""), sort_keys=True)
        )

    return extract_record


def extract_template_records(batches: DataFrame,
                             extractor: FieldRuleExtractor) -> DataFrame:
    """(url, batch_id, combined_text) -> (url, batch_id, record_json)."""
    udf = make_template_extractor_udf(extractor)
    return batches.select(
        "url", "batch_id", udf(F.col("combined_text")).alias("record_json")
    )
